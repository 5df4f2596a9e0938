"""Deduplication operators for web-scale corpus curation.

All pure DataFrame ops (no Python UDFs): hashing via ``xxhash64`` /
``md5``, signatures via per-permutation ``min`` aggregates, candidate
generation via band-bucket self-joins — the standard MinHash-LSH /
SimHash shapes used on Common-Crawl-scale corpora.

Scale notes:
* exact dedup — one shuffle on the content hash; skew-free (hashes are
  uniform).
* MinHash-LSH — shuffles: shingle explode → groupBy(doc) signature
  (map-side combined), band explode → groupBy(band bucket). The band
  join is self-equi-join on (band_idx, band_hash): bucket sizes are the
  skew risk at 10^12 docs (boilerplate shingles) → cap bucket size
  before pairing (`max_bucket` guard) exactly like production dedup
  pipelines drop megabuckets.
* SimHash — one groupBy(doc) for the bit-vote signature, then a
  16-bit-chunk bucket join; hamming verify via bit_count(xor).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 31-bit Mersenne prime: with h, a, b < 2^31, a*h + b < 2^63 (no ANSI
# long overflow inside the codegen'd min-aggregate)
MERSENNE = (1 << 31) - 1


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace — canonical form for hashing."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: groups with >1 member, with the
    canonical (minimum) id per group."""
    from .layout import rebalance_narrow

    h = rebalance_narrow(docs).select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_text(F.col(text_col))).alias("content_hash"),
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


def shingles(col: Column, k: int = 5) -> Column:
    """Word k-shingles of the normalized text (array<string>).

    NOTE: when `col` is a raw text column this inlines the
    normalize+split into every slice of the transform lambda, which
    Catalyst re-evaluates per shingle — O(n_words²) regexp+split work
    per document (measured 10× the whole explode stage at sf1.0). Use
    `shingle_rows` (which materializes the split in its own projection)
    for any corpus-side pipeline; this Column form is kept for
    callers that already pass a cheap column."""
    words = F.split(normalize_text(col), " ")
    return _shingles_of_words(words, k)


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


def _signatures_from_hashed(sh: DataFrame, n_perm: int,
                            seed: int) -> DataFrame:
    """(doc_id, h64) rows → n_perm-column signature (one map-side-
    combinable groupBy; min is duplicate-insensitive so the input may
    be distinct or raw)."""
    return sh.groupBy("doc_id").agg(*_signature_agg_exprs(n_perm, seed))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 5,
                       n_perm: int = 64, seed: int = 42) -> DataFrame:
    """doc → n_perm-column MinHash signature over word k-shingles.

    One explode + one map-side-combinable groupBy; the per-permutation
    min is computed from a single base xxhash64 per shingle. min is
    duplicate-insensitive, so the exploded shingles are not
    de-duplicated: the map-side partial min shuffles only 64 longs per
    doc.
    """
    sh = hashed_shingle_rows(docs, id_col, text_col, k)
    return _signatures_from_hashed(sh, n_perm, seed)


# Above this corpus size the shared-distinct subtree's corpus-wide
# (doc_id, shingle) string exchange stops being a good trade (it is
# faster while the exchange fits — sf0.1: 6.5 s vs 8.9 s — because the
# verify stage reuses it verbatim via ReusedExchange); past it the
# single-exchange scale shape is the only plan that survives. Callers
# that know their corpus size (jobs_curate.py) route through this.
SCALE_SHAPE_MIN_DOCS = 5_000_000


def pick_minhash_shape(n_docs: int) -> bool:
    """scale_shape selector for `minhash_lsh_pairs`: True once the
    corpus is too large to exchange its exploded shingle strings."""
    return n_docs > SCALE_SHAPE_MIN_DOCS


def minhash_band_hashes(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        n_perm: int = 64, bands: int = 16,
                        seed: int = 42) -> DataFrame:
    """(doc_id, band_idx, band_hash) — the banded LSH index rows for
    each document. This is the state a resumable curation job persists
    between runs: an increment computes band hashes for NEW docs only
    and joins them against the stored index, so near-dup work scales
    with the increment, not the corpus."""
    sig = minhash_signatures(docs, id_col, text_col, k, n_perm, seed)
    band_cols = _band_struct_exprs(n_perm, bands)
    return (sig.select("doc_id", F.explode(F.array(*band_cols)).alias("b"))
            .select("doc_id", "b.band_idx", "b.band_hash"))


def cap_megabuckets(banded: DataFrame, max_bucket: int = 1000,
                    touching: DataFrame | None = None) -> DataFrame:
    """Megabucket guard: identical boilerplate can put millions of docs
    in one bucket → quadratic pair blowup; cap like production
    pipelines.

    `touching` (incremental runs): restrict to buckets that contain at
    least one row of `touching` BEFORE counting. An increment only
    cares about buckets its new batch collides into — every other
    bucket of the persisted index can produce no new candidate — so
    this keeps the cap stage's group-count proportional to the
    increment's bucket footprint instead of the whole corpus index.
    Bucket counts are unchanged for surviving buckets (the semi-join
    keeps every member of a touched bucket), so results are identical
    to capping the full index and then restricting."""
    if touching is not None:
        banded = banded.join(
            touching.select("band_idx", "band_hash").distinct(),
            ["band_idx", "band_hash"], "left_semi")
    bucket_sizes = banded.groupBy("band_idx", "band_hash").count()
    return banded.join(
        bucket_sizes.filter(F.col("count") <= max_bucket)
        .select("band_idx", "band_hash"),
        ["band_idx", "band_hash"], "left_semi")


def band_candidates(banded: DataFrame,
                    right_banded: DataFrame | None = None) -> DataFrame:
    """Distinct (a, b) candidate pairs colliding in some band, a < b.
    With `right_banded`, pairs are restricted to one side from each
    input (the incremental old-index × new-batch join)."""
    left = banded.alias("l")
    right = (banded if right_banded is None else right_banded).alias("r")
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
                      seed: int = 42, max_bucket: int = 1000,
                      scale_shape: bool = False) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, verified with exact
    shingle-set Jaccard ≥ threshold.

    Returns (a, b, jaccard) with a < b.

    Two plan shapes, identical results:

    * scale_shape=False (default): signature and verify share one
      distinct-explode subtree → ReusedExchange computes the shingle
      table once. Fastest measured at sandbox scale (sf0.1: 8.5 s vs
      11.8 s without the shared distinct, vs 14.3 s for the semi-join
      verify — candidates here are a large corpus fraction).
    * scale_shape=True: the 10^12-doc shape. Signatures aggregate the
      RAW exploded shingles (map-side partial min → the only full
      exchange carries 64 longs per doc, never shingle strings);
      verify first semi-joins the corpus down to candidate docs and
      explodes only those. Correct whenever candidates ≪ corpus —
      exactly the regime a corpus-wide distinct cannot survive.

    Callers that know the corpus size should pass
    `scale_shape=pick_minhash_shape(n_docs)` (jobs_curate.py does) so
    the scale-safe plan is the default above SCALE_SHAPE_MIN_DOCS.
    """
    pairs, _ = minhash_lsh_pairs_with_bands(
        docs, id_col, text_col, k, n_perm, bands, threshold, seed,
        max_bucket, scale_shape)
    return pairs


def _bucket_pairs(keyed: DataFrame, key_cols: list[str],
                  max_bucket: int) -> DataFrame:
    """Distinct ordered (a, b) pairs of doc_ids sharing a key, buckets
    larger than `max_bucket` dropped — ONE keyed exchange: groupBy key
    → sorted collect_list → size cap → nested-transform pair explode.
    Replaces the bucket-count + semi-join + self-equi-join shape (three
    evaluations of the keyed table, two extra exchanges and two sorts)
    with plain per-bucket array work (guide §2.4: remove shuffles
    outright). Identical output: every unordered pair within a
    surviving bucket, a < b, distinct across buckets.

    Caveat: the cap filters AFTER collect_list, so an uncapped bucket
    is materialized as one array row. Right whenever bucket sizes are
    input-bounded (sandbox corpora, k-gram inverted index with small
    caps); the extreme-scale LSH path (`scale_shape=True`) keeps the
    count-then-semi-join capping instead, where a boilerplate
    megabucket never becomes a single row."""
    buckets = (keyed.groupBy(*key_cols)
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
               .filter(F.size("ids") <= max_bucket)
               .filter(F.size("ids") >= 2))
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
        scale_shape: bool = False) -> tuple[DataFrame, DataFrame]:
    """`minhash_lsh_pairs` that also returns the uncapped band table —
    the LSH index rows a resumable job persists as state so the next
    increment joins new docs against them instead of re-banding the
    corpus."""
    sh = hashed_shingle_rows(docs, id_col, text_col, k)
    band_cols = _band_struct_exprs(n_perm, bands)
    if not scale_shape:
        # ONE groupBy(doc_id) computes the 64 signature mins AND the
        # verify hash set — a single exchange feeds signature, banding
        # and Jaccard (the old shape paid a distinct exchange plus two
        # downstream groupBys; measured 5.5 → 4.8 s at sf1.0). min is
        # duplicate-insensitive and |set| comes from collect_set, so
        # skipping the pre-distinct changes nothing.
        doc_tbl = sh.groupBy("doc_id").agg(
            F.collect_set("h64").alias("hs"),
            *_signature_agg_exprs(n_perm, seed))
        sig = doc_tbl.drop("hs")
        sets = doc_tbl.select("doc_id", "hs", F.size("hs").alias("n"))
        banded = (sig.select("doc_id",
                             F.explode(F.array(*band_cols)).alias("b"))
                  .select("doc_id", "b.band_idx", "b.band_hash"))
        cand = _bucket_pairs(banded, ["band_idx", "band_hash"], max_bucket)
        jac = _jaccard_from_sets(sets, cand)
        return jac.filter(F.col("jaccard") >= threshold), banded
    # the 10^12-doc shape: the only corpus-wide exchange carries the 64
    # partial mins per doc (never per-shingle rows); verify re-explodes
    # candidate docs only (candidates ≪ corpus in this regime). Bucket
    # capping stays count-then-semi-join here: _bucket_pairs would
    # materialize each UNCAPPED bucket as one collect_list array, and a
    # boilerplate megabucket at this scale is a multi-GB row.
    sig = _signatures_from_hashed(sh, n_perm, seed)
    banded = (sig.select("doc_id", F.explode(F.array(*band_cols)).alias("b"))
              .select("doc_id", "b.band_idx", "b.band_hash"))
    cand = band_candidates(cap_megabuckets(banded, max_bucket))
    cand_ids = (cand.select(F.col("a").alias("doc_id"))
                .unionByName(cand.select(F.col("b").alias("doc_id")))
                .distinct())
    verify_sh = sh.join(cand_ids, "doc_id", "left_semi").distinct()
    jac = _jaccard_from_hashed(verify_sh, cand)
    return jac.filter(F.col("jaccard") >= threshold), banded


def _jaccard_from_hashed(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard from a DISTINCT (doc_id, h64) table:
    per-doc hash sets via one groupBy, then `_jaccard_from_sets`."""
    sets = sh.groupBy("doc_id").agg(F.collect_list("h64").alias("hs"),
                                    F.count("*").alias("n"))
    return _jaccard_from_sets(sets, pairs)


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


def jaccard_for_pairs(docs: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: int = 5) -> DataFrame:
    """Exact shingle-set Jaccard for candidate (a, b) pairs."""
    sh = hashed_shingle_rows(docs, id_col, text_col, k).distinct()
    return _jaccard_from_hashed(sh, pairs)


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
    return _jaccard_from_hashed(sh, cand).filter(
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
    `shingles`), so short-text exact matches still flag.
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
