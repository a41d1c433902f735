"""Plan-quality gate: the optimizations the 100TB design depends on must
be visible in the executed plans — column pruning at the scan, predicate
pushdown, broadcast dictionary joins, and no shuffle Exchange where the
layout already provides the distribution.  A refactor that silently
breaks one of these passes every value-correctness test; these assertions
are the regression fence."""

from __future__ import annotations

import os

import pytest

from ocr_corrector_spark.operators import sqlops

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_columns(spark):
    # digit_translate touches only (doc_id, n_chars): the parquet scan's
    # ReadSchema must not carry text/lang/source
    plan = _plan(sqlops.q_digit_translate(spark, SF_DIR))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, plan
    assert "doc_id" in read[0] and "n_chars" in read[0]
    assert "text" not in read[0] and "lang" not in read[0]


def test_filter_pushed_to_scan(spark):
    # ngram_jaccard bounds its brute-force input with doc_id < 120: the
    # predicate must reach the scan (PushedFilters), not run post-scan
    plan = _plan(sqlops.q_ngram_jaccard(spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    assert any("LessThan(doc_id,120" in l for l in pushed)


def test_dictionary_join_broadcasts(spark):
    # the keyword levenshtein theta-join must broadcast the tiny dimension
    # (a shuffle join on a 6-row dim would be wrong at any scale)
    plan = _plan(sqlops.q_keyword_fuzzy_join(spark, SF_DIR))
    assert "Broadcast" in plan


def _udf_args(plan: str) -> list[str]:
    """Top-level arguments of the one Python UDF call in ``plan``'s
    ArrowEvalPython node."""
    line = next(l for l in plan.splitlines() if "ArrowEvalPython" in l)
    call = line[line.index("correct_rows(") + len("correct_rows(") :]
    args, depth, cur = [], 0, ""
    for ch in call:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            if depth == 0:
                break
            depth -= 1
        if ch == "," and depth == 0:
            args.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return args + [cur.strip()]


def test_default_plan_crosses_into_python_once(spark, tmp_path):
    # the default pipeline crosses the JVM<->Python boundary ONCE per row:
    # extraction, detection, eligibility and correction share one scalar
    # Arrow UDF, which reads its error key from the probs array itself
    from ocr_corrector_spark.plans.pipeline import correct_pipeline
    from ocr_corrector_spark.sources.transcripts import gen_transcripts

    # a stored table, so the plan holds no generator expressions
    path = str(tmp_path / "transcripts")
    gen_transcripts(spark, n_convs=20).write.parquet(path)
    plan = _plan(correct_pipeline(spark.read.parquet(path), spark))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "MapInArrow" not in plan and "MapInPandas" not in plan, plan
    # no higher-order array filter runs in the JVM: Spark generates no
    # code for it, so it would run element by element in the interpreter
    assert "filter(" not in plan and "sequence(" not in plan, plan
    text, probs, biz = _udf_args(plan)
    assert text.startswith("text#"), plan
    assert probs.startswith("probs#"), plan
    assert biz.startswith("tool#"), plan


def test_image_stats_scan_reads_only_doc_id(spark):
    from ocr_corrector_spark.operators.multimodal import q_image_stats

    plan = _plan(q_image_stats(spark, SF_DIR))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "doc_id" in read[0] and "text" not in read[0]


def test_decontaminate_broadcasts_eval_grams(spark):
    # the eval-suite gram set must broadcast: a shuffle join of the
    # training gram stream against the (tiny) eval set would put a 100TB
    # shuffle where a map-side hash probe belongs
    plan = _plan(sqlops.q_decontaminate(spark, SF_DIR))
    assert "Broadcast" in plan


def test_tfidf_broadcasts_df_table(spark):
    # the document-frequency table is vocabulary-sized; both it and the
    # single-row total must broadcast into the tf stream
    plan = _plan(sqlops.q_tfidf_top_terms(spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2 or plan.count("Broadcast") >= 2


def test_stratified_sample_is_scan_local(spark):
    # the sampling gate is a pure row-local expression: no Exchange (and
    # no Python stage) may appear anywhere in the plan
    plan = _plan(sqlops.q_stratified_sample(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_pii_scrub_is_scan_local(spark):
    # scrubbing is embarrassingly parallel: no Exchange, no Python stage
    plan = _plan(sqlops.q_pii_scrub(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_domain_mix_broadcasts_rate_table(spark):
    # the per-source keep-rate table is sources-cardinality-sized and must
    # broadcast into the corpus scan — a shuffle join keyed on source
    # would also be badly skewed at scale
    plan = _plan(sqlops.q_domain_mix_sample(spark, SF_DIR))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle_no_nested_loop(spark):
    # the union+window recomposition must plan as ONE hash exchange on
    # user_id plus a sort — never a nested-loop/theta join
    plan = _plan(sqlops.q_asof_join(spark, SF_DIR))
    assert "NestedLoop" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_range_join_is_equi_join(spark):
    # bin bucketing must turn the interval predicate into an equi-join;
    # a BroadcastNestedLoopJoin means the θ-join leaked into the plan
    plan = _plan(sqlops.q_range_join(spark, SF_DIR))
    assert "NestedLoop" not in plan, plan


def test_pq_codes_broadcasts_codebook(spark):
    # the PQ codebook (PQ_M x PQ_K subvectors) must broadcast so code
    # assignment is a map-side argmin over the single embeddings scan
    plan = _plan(sqlops.q_pq_codes(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_dedup_broadcasts_the_batch(spark):
    # the arriving batch is tiny vs the corpus index: it must broadcast
    # so the index side is probed map-side, never shuffled
    plan = _plan(sqlops.q_incremental_dedup(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_score_is_scan_local(spark):
    # repetition is a per-row property: the whole score must stay inside
    # the scan stage — no Exchange, no explode-driven Generate, no Python
    plan = _plan(sqlops.q_repetition_score(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan and "Python" not in plan


def test_dedup_correction_plan_shape(spark):
    # the dedup plan's 100TB contract: the join back is a SHUFFLED HASH
    # join (no wide-key sort-merge, no driver-serializing broadcast of the
    # uniq table), the Python stage (ArrowEvalPython) sits on the build
    # side only, and the probs arrays never enter the join keys (the
    # err_prob_key factorization)
    from ocr_corrector_spark.plans.pipeline import correct_pipeline
    from ocr_corrector_spark.sources.transcripts import gen_transcripts

    df = gen_transcripts(spark, n_convs=40, seed=3)
    plan = _plan(correct_pipeline(df, spark, dedup_correction=True))
    assert "ShuffledHashJoin" in plan, plan[:2000]
    # no sort-merge join anywhere (the wide-key sort is the failure mode)
    assert "SortMergeJoin" not in plan, plan[:2000]
    # dedup aggregation present (the distinct)
    assert "HashAggregate" in plan
    # one Python stage (extraction + eligibility + correction) on the
    # uniq side
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]
    assert "MapInArrow" not in plan and "MapInPandas" not in plan
