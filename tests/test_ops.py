"""Training-data ops over the driver testdata + planted-duplicate checks."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.ops import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # plant exact + near duplicates deterministically
    exact = base.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000)
    near = base.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 10)) \
               .withColumn("doc_id", F.col("doc_id") + 2_000_000) \
               .withColumn("text", F.concat(F.col("text"), F.lit(" extra tail")))
    return base.unionByName(exact).unionByName(near).cache()


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_duplicates_found(docs):
    groups = dedup.exact_duplicates(docs).collect()
    planted = {g.canonical_id for g in groups if g.canonical_id < 5}
    assert planted == {0, 1, 2, 3, 4}
    for g in groups:
        if g.canonical_id < 5:
            assert g.canonical_id + 1_000_000 in g.members


def test_minhash_lsh_finds_planted_near_dups(docs):
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.6).collect()
    found = {(p.a, p.b) for p in pairs}
    # exact copies always found
    for i in range(5):
        assert (i, i + 1_000_000) in found
    # near copies (small tail edit) found with high jaccard
    near_hits = [p for p in pairs if 5 <= p.a < 10 and p.b == p.a + 2_000_000]
    assert len(near_hits) >= 4
    assert all(p.jaccard > 0.6 for p in near_hits)


def test_minhash_shape_picker():
    """pick_minhash_shape (kept for perfbench/compose.py) is True only
    above SCALE_SHAPE_MIN_DOCS."""
    assert dedup.pick_minhash_shape(500) is False
    assert dedup.pick_minhash_shape(dedup.SCALE_SHAPE_MIN_DOCS) is False
    assert dedup.pick_minhash_shape(dedup.SCALE_SHAPE_MIN_DOCS + 1) is True
    assert dedup.pick_minhash_shape(10**12) is True


def test_bucket_cap_drops_whole_oversized_buckets(spark):
    """k identical docs share every bucket: a cap of k-1 drops it (no
    pairs), a cap of k keeps all k(k-1)/2 pairs — for a batch call, for
    an increment whose old side holds part of the bucket, and for the
    n-gram inverted index (its cap is 100)."""
    from itertools import combinations

    text = "the same boilerplate sentence repeated on every page of the site"

    def same_docs(ids):
        return spark.createDataFrame([(i, text) for i in ids],
                                     "doc_id long, text string")

    def pairs(df):
        return {(r.a, r.b) for r in df.collect()}

    k = 6
    docs = same_docs(range(k))
    assert pairs(dedup.minhash_lsh_pairs(docs, max_bucket=k - 1)) == set()
    assert pairs(dedup.minhash_lsh_pairs(docs, max_bucket=k)) == \
        set(combinations(range(k), 2))

    _, old_bands = dedup.minhash_lsh_pairs_with_bands(same_docs(range(3)))
    for cap, want in [(k - 1, set()),
                      (k, {(a, b) for a, b in combinations(range(k), 2)
                           if b >= 3})]:
        incr, _ = dedup.minhash_lsh_pairs_with_bands(
            same_docs(range(3, k)), max_bucket=cap, prior_bands=old_bands,
            prior_docs=docs)
        assert pairs(incr) == want, cap

    assert pairs(dedup.ngram_jaccard_pairs(same_docs(range(101)))) == set()
    assert pairs(dedup.ngram_jaccard_pairs(same_docs(range(100)))) == \
        set(combinations(range(100), 2))


def test_simhash_finds_planted_near_dups(docs):
    pairs = dedup.simhash_pairs(docs, max_hamming=3).collect()
    found = {(p.a, p.b) for p in pairs}
    for i in range(5):
        assert (i, i + 1_000_000) in found


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs.filter((F.col("doc_id") < 20) | (F.col("doc_id") >= 1_000_000)),
        threshold=0.9).collect()
    found = {(p.a, p.b) for p in pairs}
    for i in range(5):
        assert (i, i + 1_000_000) in found


def test_cosine_topk_exact_and_lsh_agree(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    exact = similarity.cosine_topk(embeddings, queries, k=5)
    rows = exact.collect()
    assert len(rows) == 25
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        cs = [r.cos for r in sorted(rs, key=lambda r: r.rank)]
        assert cs == sorted(cs, reverse=True)
        assert all(-1.001 <= c <= 1.001 for c in cs)

    # LSH recall: true NNs here are weak (cos≈0.35 → ~67°), so use many
    # short tables (16×4 → expected recall@1 ≈ 0.94 at these angles)
    approx = similarity.lsh_topk(embeddings, queries, k=5,
                                 n_tables=16, n_planes=4, dim=64)
    arows = approx.collect()
    exact_top1 = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
    a_top1 = {r.query_id: r.neighbor_id for r in arows if r.rank == 1}
    hits = sum(exact_top1[q] == a_top1.get(q) for q in exact_top1)
    assert hits >= 3  # recall@1 ≥ 0.6 on 5 queries


def test_signature_data_driven_matches_unrolled(embeddings):
    """The folded-literal signature/ranking expressions must be
    value-identical to the round-2 unrolled forms (same per-plane dot
    expression, integer-exact bit weights, same distance arithmetic)."""
    import numpy as np

    planes = similarity._hyperplanes(64, 8, seed=7)
    cents = np.asarray([r.embedding for r in
                        embeddings.orderBy("vec_id").limit(6).collect()],
                       dtype=float)
    df = embeddings.limit(50).select(
        "vec_id",
        similarity.hyperplane_signature(F.col("embedding"), planes)
        .alias("sig_dd"),
        similarity.hyperplane_signature(F.col("embedding"), planes,
                                        unrolled=True).alias("sig_un"),
        similarity._cell_ranking(F.col("embedding"), cents).alias("rk_dd"),
        similarity._cell_ranking(F.col("embedding"), cents,
                                 unrolled=True).alias("rk_un"),
    )
    for r in df.collect():
        assert r.sig_dd == r.sig_un
        assert r.rk_dd == r.rk_un


def test_ivf_topk_recall(embeddings):
    """IVF (KMeans coarse quantizer + nprobe cells) recall vs the exact
    baseline; recall should rise with nprobe and hit 1.0 when probing
    every cell (IVF with nprobe=n_cells is exhaustive)."""
    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in similarity.cosine_topk(embeddings, queries, k=5).collect()}

    cents = similarity.fit_ivf_centroids(embeddings, n_cells=8)
    assert cents.shape == (8, 64)

    def recall_at_1(nprobe):
        rows = similarity.ivf_topk(embeddings, queries, cents, k=5,
                                   nprobe=nprobe).collect()
        a1 = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
        return sum(exact[(q, 1)] == a1.get(q) for q in {q for q, _ in exact})

    # probing all cells ⇒ identical to exact (strong correctness anchor)
    assert recall_at_1(8) == 5
    # a partial probe still finds most true top-1s
    assert recall_at_1(4) >= 3


def test_embedding_near_duplicates_planted(embeddings, spark):
    # plant a near-identical copy of vec 0
    import numpy as np
    base = embeddings.filter(F.col("vec_id") == 0).first()
    v = np.array(base.embedding, dtype=np.float32)
    v2 = (v + 1e-4).tolist()
    extra = spark.createDataFrame([(999_000, v2, 0)],
                                  "vec_id long, embedding array<float>, label int")
    aug = embeddings.unionByName(extra)
    pairs = similarity.embedding_near_duplicates(aug, threshold=0.999, dim=64)
    found = {(p.a, p.b) for p in pairs.collect()}
    assert (0, 999_000) in found


def test_textstats(docs):
    feats = textstats.quality_features(docs.limit(50))
    rows = feats.collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in rows)
    assert all(r.n_tokens >= 0 for r in rows)

    lid = textstats.lang_id(docs.limit(200)).collect()
    assert {r.lang_pred for r in lid} <= {"pt", "en", "und"}

    fp = textstats.fingerprint(docs.limit(50)).collect()
    assert all(len(r.exact_fp) == 32 for r in fp)

    tc = docs.limit(20).select(
        "doc_id", "text", textstats.token_count(F.col("text")).alias("tc"),
        textstats.bpe_ish_token_count(F.col("text")).alias("btc")).collect()
    for r in tc:
        assert r.tc == len(r.text.split()), r.doc_id
        assert r.btc >= r.tc


def test_multimodal_plumbing(docs, spark):
    media = multimodal.synth_media_table(spark, docs.limit(60))
    feats = multimodal.extract_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == 60
    assert all(r.decode_ok for r in rows)
    assert all(len(r.feature) == 8 for r in rows)
    for r in rows:
        assert math.isclose(sum(x * x for x in r.feature), 1.0, rel_tol=1e-3)
    # determinism: same payload → same feature
    again = {r.doc_id: r.feature for r in
             multimodal.extract_features(media, dim=8).collect()}
    for r in rows:
        assert again[r.doc_id] == r.feature

    plan = multimodal.frame_sample_plan(media, every_ms=60_000)
    n_videos = media.filter(F.col("media_type") == "video").count()
    assert plan.select("doc_id").distinct().count() == n_videos


def test_curate_corpus_stages(spark):
    """Each curation stage drops exactly its planted control."""
    from pdf_extractor_spark.ops.curate import curate_corpus

    base = [
        (0, "the table of value and data for the scan of it"),   # en, kept
        (1, "de da o que para com os valor de da tabela"),       # pt, kept
        (2, "zzz qqq xxx www vvv uuu"),                          # und → lang drop
        (3, "1 2 3"),                                            # token floor
        (4, "1 2 3 4 5 6"),                                      # digit ceiling
        (5, "the table of value and data for the scan of it"),   # exact dup of 0
    ]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 6)], "a long, b long")  # near-dup claim
    docs = docs.unionByName(spark.createDataFrame(
        [(6, "the table of value and data for the scan of it now")],
        "doc_id long, text string"))
    out = curate_corpus(docs, near_dup_pairs=pairs)
    kept = sorted(r.doc_id for r in out.collect())
    # 2 und, 3 short, 4 digits, 5 exact-dup of 0, 6 near-dup b-side
    assert kept == [0, 1]
    row = {r.doc_id: r for r in out.collect()}
    assert row[0].lang_pred == "en" and row[1].lang_pred == "pt"
    # without a pair table the near-dup doc survives
    kept_nond = sorted(r.doc_id for r in curate_corpus(docs).collect())
    assert kept_nond == [0, 1, 6]


def test_curation_stage_counts_consistent(spark, sf_dir):
    """Stage counts must sum to the input size, and `kept` must equal
    curate_corpus's row count under identical parameters (both with
    and without a pair table). A null-text doc counts under `quality`
    and is never kept."""
    from pdf_extractor_spark.ops.curate import (curate_corpus,
                                                curation_stage_counts)
    from pdf_extractor_spark.ops.dedup import minhash_lsh_pairs

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    base = {r.stage: r.n_docs
            for r in curation_stage_counts(docs).collect()}
    null_id = 10 ** 9
    docs = docs.unionByName(spark.createDataFrame(
        [(null_id, None)], "doc_id long, text string"))
    n_in = docs.count()
    for pairs in (None, minhash_lsh_pairs(docs, threshold=0.8)):
        counts = {r.stage: r.n_docs
                  for r in curation_stage_counts(
                      docs, near_dup_pairs=pairs).collect()}
        assert sum(counts.values()) == n_in
        kept = {r.doc_id for r in curate_corpus(
            docs, near_dup_pairs=pairs).collect()}
        assert counts["kept"] == len(kept)
        assert null_id not in kept
    assert counts["quality"] == base.get("quality", 0) + 1
    assert counts.get("near_dup", 0) > 0  # generator plants near-dups


def test_stage_counts_partition_invariant(spark, sf_dir):
    """Stage attribution must not depend on physical partitioning
    (the top-1 over the content-hash window is keyed, not
    positional)."""
    from pdf_extractor_spark.ops.curate import curation_stage_counts

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    a = {r.stage: r.n_docs
         for r in curation_stage_counts(docs).collect()}
    b = {r.stage: r.n_docs
         for r in curation_stage_counts(docs.repartition(7)).collect()}
    assert a == b


def test_repetition_ceilings_gate(spark):
    """Gopher-style ceilings drop the planted repetitive doc at the
    quality stage; with ceilings off it passes."""
    from pdf_extractor_spark.ops.curate import (curate_corpus,
                                                curation_stage_counts)

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the " * 40 + "end")],       # top_word_frac ≈ 0.97
        "doc_id long, text string")
    base = {r.doc_id for r in curate_corpus(docs).collect()}
    assert base == {1, 2}
    gated = {r.doc_id for r in
             curate_corpus(docs, max_top_word_frac=0.5).collect()}
    assert gated == {1}
    counts = {r.stage: r.n_docs
              for r in curation_stage_counts(
                  docs, max_top_word_frac=0.5).collect()}
    assert counts == {"kept": 1, "quality": 1}


def test_curate_simhash_mode_oracle(spark, sf_dir):
    """SimHash-mode curation against a pure-Python pair oracle: the
    docs removed by the anti-join must be exactly the b-side of the
    brute-force simhash pairs (4×16-bit pigeonhole is complete for
    hamming ≤ 3, so brute force over the small corpus is the same
    pair set) intersected with the otherwise-kept set."""
    from pdf_extractor_spark import golden_oracle as G
    from pdf_extractor_spark.ops.curate import curate_corpus
    from pdf_extractor_spark.ops.dedup import simhash_pairs

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "text").filter(F.col("doc_id") < 80))
    near = (d.filter(F.col("doc_id") < 4)
            .withColumn("doc_id", F.col("doc_id") + 500000)
            .withColumn("text", F.concat("text", F.lit(" tinyedit"))))
    corpus = d.unionByName(near)
    rows = [(r.doc_id, r.text) for r in corpus.collect()]

    sig = {i: G._simhash(t) for i, t in rows}
    ids = sorted(sig)
    b_side = {b for i, a in enumerate(ids) for b in ids[i + 1:]
              if bin(sig[a] ^ sig[b]).count("1") <= 3}

    kept_none = {r.doc_id for r in curate_corpus(corpus).collect()}
    kept_sim = {r.doc_id for r in curate_corpus(
        corpus, near_dup_pairs=simhash_pairs(corpus, max_hamming=3)
    ).collect()}
    assert kept_none - kept_sim == b_side & kept_none
    assert b_side & kept_none  # the planted near-dups are caught


def test_documents_generator_plants_curation_work():
    """doc_row is a pure function of (seed, id) and plants exact dups,
    near dups, and junk at the documented rates."""
    from pdf_extractor_spark.datagen import _doc_salad, doc_row

    rows = [doc_row(42, i) for i in range(5000)]
    assert rows[7] == doc_row(42, 7)  # deterministic
    texts = {r["doc_id"]: r["text"] for r in rows}
    salads = {i: _doc_salad(42, i)[0] for i in range(5000)}
    exact = [i for i in range(200, 5000)
             if texts[i] != salads[i] and not texts[i].endswith(" extra")
             and texts[i] != "1 2 3 4 5 6 7 8 9"]
    near = [i for i in range(200, 5000) if texts[i].endswith(" extra")]
    junk = [i for i in range(5000) if texts[i] == "1 2 3 4 5 6 7 8 9"]
    # ~2% each (kind ∈ {47,48} of 50), ~2% junk
    assert 50 <= len(exact) <= 150 and 50 <= len(near) <= 150
    assert 50 <= len(junk) <= 150
    # every exact dup matches some earlier doc's salad verbatim
    assert all(texts[i] in salads.values() for i in exact[:20])


def test_boilerplate_flatten_spans_exact(spark):
    """Every node's spans must reproduce its text byte-for-byte from
    the original HTML string (the north rule's char-span contract)."""
    from pdf_extractor_spark.ops.boilerplate import flatten_dom

    html = ('<html><body><nav><a href="/">Home</a> now</nav>'
            '<p>real content with enough characters to matter</p>'
            '<div>short <a href="x">link</a> heavy <a href="y">row</a></div>'
            '<footer>bye</footer></body></html>')
    df = spark.createDataFrame([(1, html)], "doc_id long, html_text string")
    nodes = flatten_dom(df).collect()[0].nodes
    for nd in nodes:
        joined = "".join(html[s.start:s.end] for s in nd.spans)
        assert joined == nd.text
        assert nd.n_chars == len(nd.text)
    tags = {nd.tag for nd in nodes}
    assert "p" in tags and "div" in tags
    by_tag = {nd.tag: nd for nd in nodes}
    assert by_tag["#text"].in_boiler          # nav text
    assert not by_tag["p"].in_boiler
    assert by_tag["div"].link_chars == len("link") + len("row")


def test_boilerplate_extract_main_content(spark):
    """Nav/ads/footer stripped; the long content paragraph survives
    with its exact span; malformed markup degrades without throwing."""
    from pdf_extractor_spark.ops.boilerplate import extract_main_content

    content = "this is the genuine article body " * 3
    html = ('<html><body>'
            '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
            f'<article><p>{content}</p></article>'
            '<div class="ad"><a href="x">Buy</a> <a href="y">Now</a> ok</div>'
            '<footer>copyright</footer></body></html>')
    broken = "<p>unclosed <b>tag < 5 and trailing junk"
    df = spark.createDataFrame(
        [(1, html), (2, broken)], "doc_id long, html_text string")
    out = {r.doc_id: r for r in extract_main_content(df).collect()}
    r1 = out[1]
    assert r1.main_text == content.strip(" ")
    assert r1.n_kept == 1
    assert len(r1.spans) == 1
    s = r1.spans[0]
    assert html[s.start:s.end] == content
    assert out[2].n_kept >= 0  # no throw on malformed input


def test_boilerplate_rawtext_script_lt(spark):
    """A '<' inside <script>/<style> content must NOT swallow the close
    tag: raw-text elements end only at their literal close tag, so the
    content after the script stays out of the boilerplate bucket
    (round-3 verdict repro)."""
    from pdf_extractor_spark.golden_oracle import _BpFlattener
    from pdf_extractor_spark.ops.boilerplate import (
        _flatten_one,
        extract_main_content,
    )

    body = ("Real content after the script that is long enough to pass "
            "the density threshold easily")
    html = f"<script>if(a<b){{x=1;}}</script><p>{body}</p>"
    nodes = _flatten_one(html)
    twin = _BpFlattener(html).nodes
    assert [(n["tag"], n["in_boiler"], n["text"]) for n in nodes] == \
        [(n["tag"], n["in_boiler"], n["text"]) for n in twin]
    p = [n for n in nodes if n["tag"] == "p"]
    assert len(p) == 1 and not p[0]["in_boiler"]

    # end-to-end: the paragraph survives extract_main_content
    df = spark.createDataFrame([(1, html)], "doc_id long, html_text string")
    row = extract_main_content(df).collect()[0]
    assert row.main_text == body and row.n_kept == 1

    # unclosed script at EOF drops the rest (html.parser CDATA rule)
    assert _flatten_one("<p>keep</p><script>var x=1; // no close") == \
        _flatten_one("<p>keep</p>")

    # '>' inside a quoted attribute value does not end the tag
    html2 = f'<a href="x>y">link text</a><p>{body}</p>'
    nodes2 = _flatten_one(html2)
    assert [(n["tag"], n["text"]) for n in nodes2] == \
        [(n["tag"], n["text"]) for n in _BpFlattener(html2).nodes]
    assert nodes2[0]["text"] == "link text"
    assert nodes2[0]["link_chars"] == len("link text")


def test_contamination_flags(spark):
    from pdf_extractor_spark.ops.dedup import contamination_flags

    w = " ".join(f"w{i}" for i in range(20))           # eval doc, 20 words
    corpus = spark.createDataFrame([
        (1, "clean " + " ".join(f"x{i}" for i in range(20))),
        (2, "lead in " + " ".join(f"w{i}" for i in range(5, 18)) + " out"),
        (3, "short exact"),                             # < 13 words
    ], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, w), (101, "short exact")], "eval_id long, text string")
    got = {(r.doc_id, r.eval_id): r.n_collisions
           for r in contamination_flags(corpus, ev).collect()}
    # doc 2 embeds one contiguous 13-gram of eval 100; doc 1 is clean;
    # doc 3 (<k words) matches eval 101 via the whole-text fallback
    assert got == {(2, 100): 1, (3, 101): 1}


def test_contamination_counts_distinct_shared_shingles(spark):
    """A doc repeating the same contaminated 13-gram must count it
    once (post-join countDistinct replaces the pre-join corpus-wide
    distinct — the result is the same quantity)."""
    from pdf_extractor_spark.ops.dedup import contamination_flags

    gram = " ".join(f"w{i}" for i in range(13))
    corpus = spark.createDataFrame(
        [(1, gram + " filler " + gram)], "doc_id long, text string")
    ev = spark.createDataFrame([(100, gram)], "eval_id long, text string")
    got = {(r.doc_id, r.eval_id): r.n_collisions
           for r in contamination_flags(corpus, ev).collect()}
    assert got == {(1, 100): 1}


def test_repetition_features_edges(spark):
    from pdf_extractor_spark.ops.textstats import repetition_features

    docs = spark.createDataFrame([
        (1, "spam spam spam spam"),          # all same word
        (2, "a b c d"),                       # all distinct
        (3, "solo"),                          # no bigrams
        (4, "x y x y x y"),                   # repeated bigram pattern
    ], "doc_id long, text string")
    r = {x.doc_id: x for x in repetition_features(docs).collect()}
    assert r[1].dup_word_frac == 0.75 and r[1].top_word_frac == 1.0
    assert r[1].dup_bigram_frac == 0.666667  # round(1 - 1/3, 6)
    assert r[2].dup_word_frac == 0.0 and r[2].dup_bigram_frac == 0.0
    assert r[3].dup_bigram_frac == 0.0 and r[3].top_word_frac == 1.0
    # 5 bigrams: xy yx xy yx xy → 2 distinct → 1 - 2/5
    assert r[4].dup_bigram_frac == 0.6


def test_packing_plan_prefix_sum(spark):
    """Distributed prefix sum == naive cumsum; invariant under input
    partitioning; bucket boundaries are seamless."""
    from pdf_extractor_spark.ops.packing import packing_plan

    texts = [(i, " ".join(["w"] * (3 + i % 7))) for i in range(40)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = {r.doc_id: r for r in
           packing_plan(docs, seq_len=10, bucket=8).collect()}
    cum = 0
    for i in range(40):
        n = 3 + i % 7
        assert out[i].offset == cum and out[i].n_tokens == n, i
        assert out[i].start_seq == cum // 10
        assert out[i].end_seq == (cum + n - 1) // 10
        cum += n
    out2 = {r.doc_id: r.offset for r in
            packing_plan(docs.repartition(7), seq_len=10, bucket=8).collect()}
    assert out2 == {i: out[i].offset for i in range(40)}


def test_deterministic_sample_properties(spark):
    """Hash-threshold sampling: rate 0/1 exact, monotone in rate,
    invariant under repartitioning, approximately proportional."""
    from pdf_extractor_spark.ops.curate import deterministic_sample

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}") for i in range(2000)], "doc_id long, source string")

    def kept(r0, r1, df=docs):
        rates = spark.createDataFrame([("s0", r0), ("s1", r1)],
                                      "source string, rate double")
        return {r.doc_id for r in deterministic_sample(df, rates).collect()}

    assert kept(0.0, 0.0) == set()
    all_k = kept(1.0, 1.0)
    assert len(all_k) == 2000
    half = kept(0.5, 0.5)
    assert 850 <= len(half) <= 1150            # ~50% of 2000
    assert half <= kept(0.8, 0.8)               # monotone: raising adds only
    assert kept(0.5, 0.5, docs.repartition(13)) == half  # partition-invariant
    assert kept(0.5, 0.0) == {i for i in half if i % 2 == 0}  # per-source


def test_front_door_metrics(spark, sf_dir):
    """with_metrics front doors: text identical to the plain shape,
    metric totals sane, and partition_id names the extraction task
    (html: captured pre-exchange; pdf: constant per doc)."""
    from pdf_extractor_spark.datagen import pdfs_from_documents
    from pdf_extractor_spark.ops.curate import (extract_main_text,
                                                extract_pdf_text)
    from pdf_extractor_spark.queries import _wrap_html_col
    from pyspark.sql import functions as F

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "text").filter(F.col("doc_id") < 120))
    html = d.select(
        "doc_id", _wrap_html_col(F.col("doc_id"), F.col("text"))
        .alias("html_text"))

    plain = {r.doc_id: r.text
             for r in extract_main_text(html).collect()}
    rich = extract_main_text(html, with_metrics=True).collect()
    assert {r.doc_id: r.text for r in rich} == plain
    for r in rich:
        assert 0 < r.n_kept <= r.n_nodes
        assert r.n_spans >= r.n_kept
        assert r.partition_id >= 0

    pdfs = pdfs_from_documents(d)
    plain_p = {r.doc_id: r.text
               for r in extract_pdf_text(pdfs).collect()}
    rich_p = extract_pdf_text(pdfs, with_metrics=True).collect()
    assert {r.doc_id: r.text for r in rich_p} == plain_p
    raw_texts = {r.doc_id: r.text for r in d.collect()}
    for r in rich_p:
        n_words = len(raw_texts[r.doc_id].split())
        n_lines = max(1, -(-n_words // 12))      # 12 words/line
        assert r.n_lines == n_lines
        assert r.n_pages == -(-n_lines // 4)     # 4 lines/page
        assert r.decode_failures == 0
        assert r.partition_id >= 0


def test_rebalance_narrow_size_gate(spark, sf_dir):
    """ops.layout.rebalance_narrow: fires on a provably-small scan
    (single-row-group testdata cannot feed every core), is idempotent
    on an already-repartitioned input, and is the identity for inputs
    the optimizer estimates above the cores x 32 MB gate (the 100 TB
    regime keeps its shuffle-free plans)."""
    from pdf_extractor_spark.ops.layout import rebalance_narrow

    cores = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rb = rebalance_narrow(docs)
    assert rb.rdd.getNumPartitions() == cores
    assert rb.count() == docs.count()
    # no double exchange when a caller already rebalanced
    assert rebalance_narrow(rb) is rb
    # large estimated input -> identity (range stats: 8 bytes/row)
    big = spark.range(0, 1 << 30)
    assert rebalance_narrow(big) is big
