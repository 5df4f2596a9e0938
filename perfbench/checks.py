"""Output checks run on every job's output directory.

Each check returns a list of problems (empty when the output is right)
and the number of documents the job's own audit tables report with
decode failures. Two kinds of evidence:

* oracle digests: tables compared with the expected digests built once
  per input (see inputs.py);
* repetition digests: every table, compared with the same table from the
  run's first job, so a table no oracle covers still has to repeat
  exactly.
"""

from __future__ import annotations

import os
from collections import Counter

from pdf_extractor_spark.golden_oracle import spark_round
from pdf_extractor_spark.oracle_ref import iterate_months

from digest import digest, read_rows
from inputs import PERIOD

TABLES = {
    "pdf_batch": ["proventos", "insalubridade", "cartoes",
                  "horas_trabalhadas", "e1_target", "e1_attention",
                  "audit_e1", "audit_e2", "audit_parse", "manifest"],
    "curate_html": ["curated", "near_dup_pairs", "audit", "stage_counts",
                    "extracted", "extract_audit", "state/manifest",
                    "state/qualified_hashes", "state/bands"],
}
N_MONTHS = len(list(iterate_months(*PERIOD)))


def table_digests(workload: str, out: str) -> dict[str, str]:
    return {t: digest(read_rows(os.path.join(out, t)))
            for t in TABLES[workload]}


def check_pdf_batch(out: str, exp: dict) -> tuple[list[str], int]:
    bad = []
    sample = set(exp["sample_urls"])
    truncated = set(exp["truncated"])
    for table in ("proventos", "insalubridade"):
        rows = read_rows(os.path.join(out, table),
                         ["url", "year", "month", "mes_ano", "valor"])
        per_url = Counter(r[0] for r in rows)
        if any(n != N_MONTHS for n in per_url.values()):
            bad.append(f"{table}: a url without exactly {N_MONTHS} months")
        if truncated & set(per_url):
            bad.append(f"{table}: rows for a truncated document")
        if digest(r for r in rows if r[0] in sample) != exp[table]:
            bad.append(f"{table}: sampled series differ from oracle_ref")
    manifest = read_rows(os.path.join(out, "manifest"), ["url"])
    if digest(manifest) != exp["manifest"]:
        bad.append("manifest: url set differs from the input")
    parse = read_rows(os.path.join(out, "audit_parse"),
                      ["url", "decode_failures"])
    if digest((u, f > 0) for u, f in parse) != exp["audit_parse_failed"]:
        bad.append("audit_parse: decode failures not exactly the "
                   "truncated documents")
    return bad, sum(1 for _, f in parse if f > 0)


def check_curate_html(out: str, exp: dict) -> tuple[list[str], int]:
    bad = []
    sample = set(exp["sample_ids"])
    pairs = read_rows(os.path.join(out, "near_dup_pairs"),
                      ["a", "b", "jaccard"])
    if digest((a, b, spark_round(j, 6)) for a, b, j in pairs
              if a in sample and b in sample) != exp["pairs"]:
        bad.append("near_dup_pairs: sampled pairs differ from "
                   "web_neardup_pairs_golden")
    curated = read_rows(os.path.join(out, "curated"), ["doc_id", "main_text"])
    ids = [i for i, _ in curated]
    if len(set(ids)) != len(ids):
        bad.append("curated: duplicate doc_id")
    if set(ids) & {b for _, b, _ in pairs}:
        bad.append("curated: keeps the later doc of a near-dup pair")
    main = exp["main_text"]
    if any(t != main[str(i)] for i, t in curated if i in sample):
        bad.append("curated: main_text differs from "
                   "extract_main_content_golden")
    audit = read_rows(os.path.join(out, "audit"),
                      ["input_docs", "kept_docs", "near_dup_pairs"])
    if audit != [(exp["docs"], len(curated), len(pairs))]:
        bad.append(f"audit: {audit} does not match the artifacts")
    stages = dict(read_rows(os.path.join(out, "stage_counts"),
                            ["stage", "n_docs"]))
    if sum(stages.values()) != exp["docs"] or \
            stages.get("kept") != len(curated):
        bad.append(f"stage_counts: {stages} do not sum to the input")
    return bad, 0


CHECKS = {"pdf_batch": check_pdf_batch, "curate_html": check_curate_html}
