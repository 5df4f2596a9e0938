"""End-to-end corpus curation: the composed training-data pipeline
(quality gate → language filter → exact dedup → near-dup removal) that
the individual ops in ``textstats``/``dedup`` exist to serve.

`curate` builds the decision once and reads three outputs off that one
chain; `curate_corpus`, `curation_stage_counts` and `qualified_hashes`
are one-line accessors on it.

Stage order and mechanics (the standard web-corpus shape):

1. **Quality gate** — token floor + digit/punct ceilings. One pass of
   codegen'd expressions over the scan; at 100 TB this is the cheapest
   stage and removes the most bytes, so it runs first.
2. **Language filter** — stopword-vote lang id, keep an allow-list.
   Same pass as (1): Catalyst collapses both into one projection. The
   distinct content hashes of the docs passing both ("qualified") are
   the `qualified_hashes` output.
3. **Exact dedup** — drop hashes a previous run qualified
   (`seen_hashes`), then keep the minimum doc_id per normalized-content
   md5 group (the "firsts"). One uniform-hash shuffle (window over the
   digest).
4. **Near-dup removal** — anti-join against the `b` side of a
   near-duplicate pair table (callers supply
   ``dedup.minhash_lsh_pairs``/``simhash_pairs``/
   ``similarity.embedding_near_duplicates`` output — the pair
   generator stays pluggable). Pairs carry a < b, so dropping every
   `b` keeps exactly one representative (the smallest id) per
   duplicate chain. The pair table is ≪ corpus by construction
   (bucketed + capped candidates); AQE broadcasts the anti-join when
   it is small, and falls back to a shuffled anti-join when it is not.
   What survives is the `kept` output.

`stage_counts` puts each doc at its first failing stage by counting
rows along that chain: quality and language from the gate flags,
exact_dup = qualified − firsts, near_dup = firsts − kept, kept = rows
of `kept`. The counts sum to the input and `kept` equals the curated
row count by construction.

Everything is lazy DataFrame composition — no action is triggered
here, and no stage materializes the corpus.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import content_hash
from .textstats import (digit_ratio, lang_cols, punct_ratio, repetition_cols,
                        token_count)


def _barrier_filter(df: DataFrame, pred) -> DataFrame:
    """`df.filter(pred)` with predicate pushdown blocked.

    The quality/lang predicate is built from expensive derived
    expressions (4 regex passes + split per doc). Catalyst pushes
    filters toward the source, splitting conjunctions and substituting
    the full feature expressions — measured at the sf1.0 replica, the
    predicate landed BELOW the `rebalance_narrow` round-robin exchange,
    re-running every regex on the unsplittable one-row-group scan on a
    single core (5.7 s vs 0.66 s for the same features evaluated wide),
    and duplicating them against the Project above. Guide §4.4: the
    optimizer may not reorder or duplicate past a non-deterministic
    expression, so the predicate is wrapped as ONE un-splittable
    CASE WHEN with a non-deterministic guard:
    `WHEN spark_partition_id() >= -1 THEN pred ELSE false`. Partition
    ids are non-negative, so this evaluates exactly `pred` — results
    byte-identical — while the filter stays pinned where it is
    written: above the exchange, in the same codegen stage as the
    feature projection. Two shapes that do NOT work, measured:
    `rand() >= -1 AND pred` (Spark 4 knows rand's value range,
    simplifies the guard to true, and the rest pushes as before) and
    `spark_partition_id() >= -1 AND pred` (Catalyst splits the
    conjunction and pushes the deterministic conjuncts on their own).

    At 100 TB (rebalance is identity) the gate already fused into the
    scan stage; the only loss is the parquet IsNotNull(text) pushdown,
    which skips nothing on real corpora."""
    guarded = F.when(F.spark_partition_id() >= F.lit(-1),
                     pred).otherwise(F.lit(False))
    return df.filter(guarded)


def _gate_features(docs: DataFrame, id_col: str, text_col: str,
                   with_repetition: bool) -> DataFrame:
    """The single-projection feature pass behind `curate` (everything
    collapses into the scan); each feature is the `textstats` / `dedup`
    builder of the same name."""
    t = F.col(text_col)
    cols = [
        F.col(id_col).alias("doc_id"),
        token_count(t).alias("n_tokens"),
        digit_ratio(t).alias("digit_ratio"),
        punct_ratio(t).alias("punct_ratio"),
        lang_cols(t)["lang_pred"].alias("lang_pred"),
        content_hash(t).alias("content_hash"),
    ]
    if with_repetition:
        cols += [c.alias(name) for name, c in repetition_cols(t).items()]
    return docs.select(*cols)


def _quality_pred(min_tokens: int, max_digit_ratio: float,
                  max_punct_ratio: float,
                  max_dup_word_frac: float | None,
                  max_top_word_frac: float | None,
                  max_dup_bigram_frac: float | None):
    pred = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("digit_ratio") <= max_digit_ratio)
        & (F.col("punct_ratio") <= max_punct_ratio)
    )
    # Gopher-style repetition ceilings — optional extra quality gates,
    # same codegen pass as the ratio gates (no extra scan or shuffle)
    if max_dup_word_frac is not None:
        pred = pred & (F.col("dup_word_frac") <= max_dup_word_frac)
    if max_top_word_frac is not None:
        pred = pred & (F.col("top_word_frac") <= max_top_word_frac)
    if max_dup_bigram_frac is not None:
        pred = pred & (F.col("dup_bigram_frac") <= max_dup_bigram_frac)
    return pred


def extract_main_text(pages: DataFrame, html_col: str = "html_text",
                      id_col: str = "doc_id",
                      with_metrics: bool = False) -> DataFrame:
    """Web-tier front door: boilerplate-strip each HTML page
    (``ops.boilerplate.extract_main_content``) and return the
    (doc_id, text) shape every curation / dedup / textstats op
    consumes — so `extract → gate → dedup` composes as ONE lazy plan:
    scan → mapInPandas flatten (shuffle-free) → codegen'd gates, with
    the dedup exchanges operating on extracted main text only.

    `with_metrics` adds the north rule's per-document extraction
    metrics — node / kept-block / span counts plus the task partition
    that parsed the doc (captured BEFORE any exchange, so it names the
    extraction task, i.e. real lineage)."""
    from .boilerplate import extract_main_content
    from .layout import rebalance_narrow

    ext = extract_main_content(rebalance_narrow(pages),
                               html_col=html_col, id_col=id_col)
    cols = [F.col(id_col).alias("doc_id"),
            F.col("main_text").alias("text")]
    if with_metrics:
        cols += [F.col("n_nodes"), F.col("n_kept"),
                 F.size("spans").alias("n_spans"),
                 F.spark_partition_id().alias("partition_id")]
    return ext.select(*cols)


def extract_pdf_text(pages: DataFrame, pdf_col: str = "pdf",
                     id_col: str = "doc_id",
                     with_metrics: bool = False) -> DataFrame:
    """PDF-tier front door: parse each document's PDF bytes
    (``ops.pdfstream.parse_pdf_docs``) into the (doc_id, text) shape
    the curation stack consumes. The input width rule is the HTML front
    door's: a narrow input (one parquet row group) is round-robined to
    core width first (``ops.layout.rebalance_narrow``), a wide one
    keeps its zero-exchange scan → parse plan.

    `with_metrics` adds pages parsed (0 for bytes with no page tree, as
    in the extraction job's `audit_parse`) / line / operator /
    decode-failure counts per document plus the parse task's partition
    id (captured in the parse stage, after any rebalance)."""
    from .layout import rebalance_narrow
    from .pdfstream import parse_pdf_docs

    parsed = parse_pdf_docs(rebalance_narrow(pages), pdf_col=pdf_col,
                            id_col=id_col)
    cols = ["doc_id", "text"]
    if with_metrics:
        parsed = parsed.withColumn("partition_id", F.spark_partition_id())
        cols += ["n_pages", "n_lines", "n_ops", "decode_failures",
                 "partition_id"]
    return parsed.select(*cols)


class Curation(NamedTuple):
    """The three outputs of one curation chain (see `curate`)."""
    kept: DataFrame              # (doc_id, lang_pred, n_tokens)
    stage_counts: DataFrame      # (stage, n_docs), zero stages omitted
    qualified_hashes: DataFrame  # (content_hash), distinct


def curate(docs: DataFrame, near_dup_pairs: DataFrame | None = None, *,
           seen_hashes: DataFrame | None = None,
           id_col: str = "doc_id", text_col: str = "text",
           min_tokens: int = 5, max_digit_ratio: float = 0.2,
           max_punct_ratio: float = 0.3,
           keep_langs: tuple[str, ...] = ("pt", "en"),
           max_dup_word_frac: float | None = None,
           max_top_word_frac: float | None = None,
           max_dup_bigram_frac: float | None = None) -> Curation:
    """The curation decision, built once: gate → seen-hash anti-join →
    exact-dedup top-1 → near-dup anti-join, and every output read off
    that one chain.

    `near_dup_pairs`: optional (a, b, …) DataFrame with a < b; every
    doc appearing as `b` is dropped (stage 4). Pass the output of any
    pair generator from ``ops.dedup`` / ``ops.similarity``.

    The three `max_*_frac` ceilings are Gopher-style repetition gates
    (see ``textstats.repetition_cols``); None disables a ceiling. They
    join stage 1 — same single projection.

    `seen_hashes`: optional (content_hash) table of gate-surviving
    docs from PREVIOUS runs (incremental curation): a doc whose hash
    already appears there is an exact duplicate of an earlier doc and
    drops before the within-batch dedup window. With crawl-ordered ids
    (new ids > old), batch-over-union and incremental runs keep the
    same set.
    """
    rep = any(x is not None for x in
              (max_dup_word_frac, max_top_word_frac, max_dup_bigram_frac))
    feat = _gate_features(docs, id_col, text_col, with_repetition=rep)
    # a null predicate (e.g. null text) fails the filter, so it counts
    # as failing that gate
    quality_ok = F.coalesce(
        _quality_pred(min_tokens, max_digit_ratio, max_punct_ratio,
                      max_dup_word_frac, max_top_word_frac,
                      max_dup_bigram_frac), F.lit(False))
    lang_ok = F.coalesce(F.col("lang_pred").isin(*keep_langs), F.lit(False))
    gated = _barrier_filter(feat, quality_ok & lang_ok)
    # every gate-surviving hash, including ones deduped below: the next
    # increment's window must see the same qualified docs a batch run
    # over the union would
    hashes = gated.select("content_hash").distinct()
    if seen_hashes is not None:
        gated = gated.join(seen_hashes.select("content_hash"),
                           "content_hash", "left_anti")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    firsts = (gated.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("doc_id", "lang_pred", "n_tokens"))
    kept = firsts
    if near_dup_pairs is not None:
        # join strategy stays with the optimizer: the pair table is
        # usually tiny (bucketed + capped candidate generation) and AQE
        # broadcasts it, but at extreme corpus sizes a pair set can
        # outgrow the driver — forcing a broadcast hint here would turn
        # that into an OOM instead of a (correct) shuffled anti-join.
        drop = near_dup_pairs.select(F.col("b").alias("doc_id")).distinct()
        kept = kept.join(drop, "doc_id", "left_anti")

    # stage counts: rows at each step of the chain above, differenced.
    # A projection (not a filter) tallies the gates, so nothing pushes
    # below a rebalance; firsts and kept share the dedup exchange.
    tally = (feat.select(
        (~quality_ok).alias("quality"),
        (quality_ok & ~lang_ok).alias("language"),
        (quality_ok & lang_ok).alias("qualified"))
        .unionByName(firsts.select(F.lit(True).alias("firsts")),
                     allowMissingColumns=True)
        .unionByName(kept.select(F.lit(True).alias("kept")),
                     allowMissingColumns=True))
    n = {c: F.count_if(c) for c in tally.columns}
    stages = (tally.agg(
        n["quality"].alias("quality"),
        n["language"].alias("language"),
        (n["qualified"] - n["firsts"]).alias("exact_dup"),
        (n["firsts"] - n["kept"]).alias("near_dup"),
        n["kept"].alias("kept"))
        .unpivot([], ["quality", "language", "exact_dup", "near_dup",
                      "kept"], "stage", "n_docs")
        .filter(F.col("n_docs") > 0))
    return Curation(kept, stages, hashes)


def qualified_hashes(docs: DataFrame, **gates) -> DataFrame:
    """Distinct (content_hash) of gate-surviving docs — the exact-dedup
    state a resumable curation job persists: the next increment passes
    it as `seen_hashes` so cross-run duplicates drop without rescanning
    old data. Takes `curate`'s gate keywords."""
    return curate(docs, **gates).qualified_hashes


def curate_corpus(docs: DataFrame, near_dup_pairs: DataFrame | None = None,
                  **gates) -> DataFrame:
    """The curated corpus as (doc_id, lang_pred, n_tokens). Takes
    `curate`'s keywords."""
    return curate(docs, near_dup_pairs, **gates).kept


def curation_stage_counts(docs: DataFrame,
                          near_dup_pairs: DataFrame | None = None,
                          **gates) -> DataFrame:
    """Per-stage drop accounting: (stage, n_docs), one row per stage
    that drops (or keeps) at least one document, counting each
    document at its FIRST failing stage. Read off `curate`'s one
    chain as count identities:

    * quality   = docs failing the quality gate (null text included);
    * language  = quality-passing docs whose language is not kept;
    * exact_dup = qualified docs − firsts (the top-1 per content hash
      after the seen-hash anti-join);
    * near_dup  = firsts − kept;
    * kept      = rows of `curate_corpus` under the same keywords.

    So the counts sum to the input count and `kept` equals the curated
    row count by construction. Takes `curate`'s keywords."""
    return curate(docs, near_dup_pairs, **gates).stage_counts


def deterministic_sample(docs: DataFrame, rates: DataFrame,
                         id_col: str = "doc_id",
                         source_col: str = "source",
                         salt: str = "v1") -> DataFrame:
    """Mixture sampling: keep each row with its source's rate, decided
    by a content-hash threshold instead of an RNG —
    ``md5(doc_id|salt)`` 's first 32 bits, uniform on [0, 2^32).

    Properties the RNG approach lacks: the SAME rows are kept on every
    run, on any cluster, at any partitioning (reproducible corpus
    builds, diffable across rate changes — raising a source's rate only
    ADDS rows); changing `salt` redraws the sample. `rates` is a
    (source, rate) dimension — tiny, broadcast by the optimizer.
    """
    threshold = (F.col("rate") * F.lit(float(1 << 32)))
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col(id_col).cast("string"),
                                      F.lit(salt))), 1, 8),
        16, 10).cast("decimal(20,0)").cast("double")
    return (docs.join(rates, source_col)
            .filter(h < threshold)
            .drop("rate"))
