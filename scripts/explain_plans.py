#!/usr/bin/env python3
"""Capture formatted physical plans for the headline queries into
BENCH/PLANS.md — the scale-review artifact (pushed filters, codegen spans,
shuffle/broadcast placement).

    python scripts/explain_plans.py                       # every section
    python scripts/explain_plans.py flagship_correct_pipeline flagship_dedup

With section names, only those sections are regenerated in place; the
rest of BENCH/PLANS.md is kept as it is."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


HEADER = (
    "# Physical plans (explain formatted)\n\n"
    "Review notes: native filters/projections reach the parquet scan "
    "(PushedFilters/ReadSchema); detection expressions sit inside "
    "WholeStageCodegen; the only wide stages are the input range "
    "shuffle (ordering) and the agg shuffles; dictionary joins are "
    "BroadcastHashJoin; the flagship's one Arrow UDF stage is "
    "ArrowEvalPython.\n\n"
    "Self-join dedup queries (simhash_neardup_pairs, "
    "minhash_neardup_pairs, conversation_dedup): the STATIC plan "
    "shows the signature aggregation subtree once per join side, but "
    "AQE's ReuseExchangeAndSubquery dedupes the identical exchanges "
    "at runtime — the executed final plan carries a ReusedExchange "
    "node and materializes each signature shuffle once (verified on "
    "sf0.01: isFinalPlan=true, ReusedExchange=1, 3 shuffle stages "
    "for simhash_neardup_pairs).  The expensive explode+agg runs "
    "once per query at any scale.\n"
)


def explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from ocr_corrector_spark.operators import sqlops
    from ocr_corrector_spark.plans.pipeline import correct_pipeline
    from ocr_corrector_spark.session import get_spark
    from ocr_corrector_spark.sources.transcripts import gen_transcripts

    spark = get_spark(app_name="explain")
    spark.sparkContext.setLogLevel("ERROR")

    only = set(sys.argv[1:])
    sections = {}
    sections["flagship_correct_pipeline"] = lambda: explain(
        correct_pipeline(gen_transcripts(spark, n_convs=100), spark)
    )
    sections["flagship_dedup"] = lambda: explain(
        correct_pipeline(
            gen_transcripts(spark, n_convs=100), spark, dedup_correction=True
        )
    )
    for name in (
        "pricing_summary",
        "minhash_buckets",
        "cosine_topk",
        "turn_reassembly",
        "keyword_fuzzy_join",
        "err_positions",
        "simhash_neardup_pairs",
        "simhash64_neardup_pairs",
        "ann_probe_topk",
        "ivf_probe_topk",
        "ivf_probe_recall",
        "ivf_recenter",
        "conversation_dedup",
        "sessionize",
        "quality_filter",
        "dedup_groups",
        "pack_sequences",
        "stratified_sample",
        "tfidf_top_terms",
        "decontaminate",
        "group_representative",
        "repetition_score",
        "pii_scrub",
        "bpe_pair_counts",
        "domain_mix_sample",
        "column_profile",
        "asof_join",
        "range_join",
        "incremental_dedup",
        "pq_codes",
        "curation_pipeline",
        "link_extract",
        "domain_stats",
        "link_graph",
        "markdownify",
        "lm_perplexity",
        "length_histogram",
        "char_entropy",
        "zipf_fit",
        "dup_ngram_coverage",
        "ivfpq_topk",
        "semantic_dedup",
        "url_canonicalize",
        "anchor_stats",
        "quality_classifier",
    ):
        sections[name] = lambda q=getattr(sqlops, f"q_{name}"): explain(q(spark, sf_dir))

    from ocr_corrector_spark.operators.multimodal import (
        q_image_ahash,
        q_image_stats,
    )

    sections["image_stats"] = lambda: explain(q_image_stats(spark, sf_dir))
    sections["image_ahash"] = lambda: explain(q_image_ahash(spark, sf_dir))

    path = os.path.join(REPO, "BENCH", "PLANS.md")
    kept = {}
    if only:
        with open(path) as f:
            _, *blocks = f.read().split("\n## ")
        kept = dict(b.split("\n", 1) for b in blocks)
    with open(path, "w") as f:
        f.write(HEADER)
        for name, build in sections.items():
            if not only or name in only:
                f.write(f"\n## {name}\n\n```\n{build()}\n```\n")
            elif name in kept:
                f.write(f"\n## {name}\n{kept[name]}")
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
