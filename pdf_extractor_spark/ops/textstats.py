"""Text-analysis operators: language-ID, quality scoring, token
counting, document fingerprinting. All JVM-side expressions (regexp /
string built-ins) — these run over every document at corpus scale, so
they must stay in whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import content_hash, normalize_text

# Stopword lists as regex alternations. The vote lists are parity-safe:
# ASCII \b semantics agree in Java regex and DuckDB's RE2 once the
# single-letter and prefix-ambiguous words (e, o, a, um) are left out.
# The full lists feed only `quality_features`' stopword ratio.
PT_WORDS = "de|da|do|que|em|para|com|uma|os|as|dos|das|no|na|por|se"
EN_WORDS = "the|of|and|to|in|is|that|it|for|on|was|with|as|at|by|be|this"
PT_WORDS_FULL = ("de|da|do|que|e|o|a|em|para|com|um|uma|os|as|dos|das|no|"
                 "na|por|se")
EN_WORDS_FULL = ("the|of|and|to|in|a|is|that|it|for|on|was|with|as|at|by|"
                 "be|this")


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))).cast("bigint")


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword proxy: count of letter-runs, digit-runs and
    punctuation marks (the standard pre-tokenizer regex family)."""
    return F.size(F.regexp_extract_all(
        col, F.lit(r"(?U)\w+|[^\w\s]"), F.lit(0))).cast("bigint")


def _char_share(col: Column, drop: str) -> Column:
    return (F.length(F.regexp_replace(col, drop, ""))
            / F.greatest(F.length(col), F.lit(1)))


def digit_ratio(col: Column) -> Column:
    """Share of characters that are ASCII digits (unrounded)."""
    return _char_share(col, r"[^0-9]")


def punct_ratio(col: Column) -> Column:
    """Share of characters in `.,;:!?` (unrounded)."""
    return _char_share(col, r"[^.,;:!?]")


def _word_hits(col: Column, words: str) -> Column:
    return F.size(F.regexp_extract_all(
        col, F.lit(rf"(?i)\b({words})\b"), F.lit(0)))


# every label `lang_cols` can put in lang_pred
LANG_LABELS = ("pt", "en", "und")


def lang_cols(text: Column) -> dict[str, Column]:
    """The stopword language vote: PT and EN hit counts and the label
    ('und' when neither list hits, a tie goes to 'pt'). `lang_id`, the
    curation gate and the `text_lang_id` query all read it here."""
    pt = _word_hits(text, PT_WORDS)
    en = _word_hits(text, EN_WORDS)
    pred = (F.when((pt == 0) & (en == 0), "und")
            .when(pt >= en, "pt").otherwise("en"))
    return {"pt_hits": pt.cast("bigint"), "en_hits": en.cast("bigint"),
            "lang_pred": pred}


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features (length, punct/digit/stopword ratios,
    mean word length) + a composite [0,1] score — the usual heuristic
    pre-filter for LLM training corpora."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_stop = _word_hits(t, f"{PT_WORDS_FULL}|{EN_WORDS_FULL}")
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    feat = docs.withColumns({
        "n_chars_calc": n_chars.cast("bigint"),
        "n_tokens": n_tokens,
        "punct_ratio": F.round(punct_ratio(t), 6),
        "digit_ratio": F.round(digit_ratio(t), 6),
        "stopword_ratio": F.round(n_stop / safe_tokens, 6),
        "mean_word_len": F.round(n_chars / safe_tokens, 6),
    })
    score = (
        F.when(F.col("n_tokens") < 5, 0.0)
        .otherwise(
            F.greatest(F.lit(0.0), F.least(F.lit(1.0),
                0.4 * F.least(F.col("stopword_ratio") * 4, F.lit(1.0))
                + 0.3 * (1 - F.least(F.col("digit_ratio") * 5, F.lit(1.0)))
                + 0.3 * (1 - F.least(F.col("punct_ratio") * 5, F.lit(1.0)))))
        )
    )
    return feat.withColumn("quality_score", F.round(score, 6))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID (pt vs en vs unknown) — the n-gram
    heuristic tier used before a real model at scale. Adds `pt_hits`,
    `en_hits` and `lang_pred` (see `lang_cols`)."""
    return docs.withColumns(lang_cols(F.col(text_col)))


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Two-level document fingerprint: md5 of normalized text (exact)
    plus min-xxhash over 8-gram windows (a 1-permutation MinHash —
    robust to small edits, the rolling-hash analog)."""
    norm = normalize_text(F.col(text_col))
    words = F.split(norm, " ")
    n = F.size(words)
    grams = F.when(n >= 8, F.transform(
        F.sequence(F.lit(0), n - 8),
        lambda i: F.xxhash64(F.array_join(F.slice(words, i + 1, 8), " ")),
    )).otherwise(F.array(F.xxhash64(norm)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        content_hash(F.col(text_col)).alias("exact_fp"),
        F.array_min(grams).alias("rolling_fp"),
    )


def repetition_cols(text: Column) -> dict[str, Column]:
    """The three Gopher/MassiveText repetition expressions as columns —
    shared by `repetition_features` and the curation gate's repetition
    ceilings (`ops.curate.curate_corpus`), so both always compute the
    identical quantity."""
    words = F.split(normalize_text(text), " ")
    n = F.size(words)
    safe_n = F.greatest(n, F.lit(1))
    distinct_frac = F.size(F.array_distinct(words)) / safe_n
    # most-frequent-word count = longest equal run of the sorted word
    # array, via a linear fold (O(n log n) per doc; a per-distinct-word
    # filter scan would be quadratic on long documents)
    sorted_w = F.array_sort(words)
    acc0 = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"))

    def _step(acc, w):
        run = F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(w.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    top_word_n = F.aggregate(sorted_w, acc0, _step, lambda a: a["best"])
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at(words, i + 1),
                              F.element_at(words, i + 2)))
    dup_bigram = F.when(
        n >= 2,
        F.round(1.0 - F.size(F.array_distinct(bigrams)) / (n - 1), 6),
    ).otherwise(F.lit(0.0))
    return {
        "dup_word_frac": F.round(1.0 - distinct_frac, 6),
        "top_word_frac": F.round(top_word_n / safe_n, 6),
        "dup_bigram_frac": dup_bigram,
    }


def repetition_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    family): duplicate-word fraction, most-frequent-word fraction, and
    duplicate-bigram fraction. High values mark boilerplate/spam for
    the quality gate. Pure array expressions — one codegen pass, no
    shuffle, no UDF."""
    return docs.withColumns(repetition_cols(F.col(text_col)))
