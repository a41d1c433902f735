#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the cores in the affinity mask).
Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec}, "sf": ..., "cpus": ..., "n_turns": ...,
 "corrected_turns_per_sec": ..., "fused_turns_per_sec": ...}

Headline = the flagship extraction+correction pipeline over a synthetic
transcripts table sized from the sf's documents rowcount (the engine's
BASELINE.md metric: corrected turns/sec), its plan and scorer variants,
plus the SQL-analog operators.  Every timing is the min over a fixed
number of reps.
"""

from __future__ import annotations

import json
import os
import sys
import time

QUERY_NAMES = (
    "minhash_buckets",
    "ngram_jaccard",
    "cosine_topk",
    "turn_reassembly",
    "pricing_summary",
    "text_quality",
    "keyword_fuzzy_join",
    "simhash_neardup_pairs",
    "simhash64_neardup_pairs",
    "ann_probe_topk",
    "ivf_probe_recall",
    "conversation_dedup",
    "dedup_groups",
    "sessionize",
    "quality_filter",
    "pack_sequences",
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
    "image_stats",
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
    "image_ahash",
)


def _min_time(run, frames) -> float:
    """Min wall seconds of ``run(frame)`` over ``frames``, one rep each."""
    reps = []
    for fr in frames:
        t0 = time.perf_counter()
        run(fr)
        reps.append(time.perf_counter() - t0)
        fr.unpersist()
    return round(min(reps), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import functions as F

    from ocr_corrector_spark.operators import sqlops
    from ocr_corrector_spark.operators.correct import correction_config
    from ocr_corrector_spark.operators.fused import fused_correct
    from ocr_corrector_spark.operators.multimodal import (
        q_image_ahash,
        q_image_stats,
    )
    from ocr_corrector_spark.plans.pipeline import correct_pipeline
    from ocr_corrector_spark.session import get_spark
    from ocr_corrector_spark.sources.tables import load_table
    from ocr_corrector_spark.sources.transcripts import gen_transcripts

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    timings: dict[str, float] = {}

    # --- headline: correction throughput ---------------------------------
    n_convs = max(200, load_table(spark, sf_dir, "documents").count() * 12)

    def frames(seeds):
        # One frame PER REP, distinct seeds: the correction stage memoizes
        # row results inside each Python worker, so timing the SAME input
        # repeatedly would measure the memo, not the engine.  A fixed
        # 128-partition input keeps the task layout independent of the
        # core count.  Materialized outside the timed region.
        out = [
            gen_transcripts(spark, n_convs=n_convs, seed=s).repartition(128).persist()
            for s in seeds
        ]
        for fr in out:
            fr.count()
        return out

    def checksum(df):
        # forces extraction + correction (+ the ordering shuffle)
        df.agg(F.sum(F.length("text_corrected")), F.count(F.lit(1))).collect()

    def pipeline(cfg=None, **kw):
        return lambda fr: checksum(correct_pipeline(fr, spark, cfg, order_output=True, **kw))

    # Warm-up: the FIRST execution of each UDF in a session pays a one-time
    # per-Python-worker ramp (closure unpickle + module imports in every
    # worker), so the headline is steady-state throughput: warm all workers
    # through the real pipeline on a small slice (seed 99, disjoint from
    # the timed seeds).
    pipeline()(
        gen_transcripts(spark, n_convs=max(64, cpus * 8), seed=99).repartition(cpus * 2)
    )

    flagship = frames(range(1, 4))
    n_turns = flagship[0].count()
    timings["flagship_correct"] = _min_time(pipeline(), flagship)
    # Each variant gets fresh seeds so an earlier variant's worker memo
    # cannot serve it.  fused_correct is the default plan's single Arrow
    # crossing without the ordering shuffle.
    timings["flagship_fused"] = _min_time(
        lambda fr: checksum(fused_correct(fr, spark)), frames(range(61, 64))
    )
    # distinct (text, err_key, biz) → the UDF once per unique → join back
    timings["flagship_dedup"] = _min_time(
        pipeline(dedup_correction=True), frames(range(241, 243))
    )
    timings["flagship_framed"] = _min_time(
        pipeline(correction_config(scorer_backend="framed")), frames(range(81, 83))
    )
    timings["flagship_lm"] = _min_time(
        pipeline(correction_config(scorer_backend="lm")), frames(range(161, 163))
    )

    # --- SQL-analog operators: warm once (IO + codegen), min of 5 ---------
    special = {"image_stats": q_image_stats, "image_ahash": q_image_ahash}
    for name in QUERY_NAMES:
        fn = special.get(name) or getattr(sqlops, f"q_{name}")
        fn(spark, sf_dir).agg(F.count(F.lit(1))).collect()
        reps = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(spark, sf_dir).agg(F.count(F.lit(1))).collect()
            reps.append(time.perf_counter() - t0)
        timings[name] = round(min(reps), 3)

    out = {
        "metric": "headline suite wall time (flagship correction + operator analogs)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_turns": n_turns,
        "corrected_turns_per_sec": round(n_turns / timings["flagship_correct"], 1),
        "fused_turns_per_sec": round(n_turns / timings["flagship_fused"], 1),
    }
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
