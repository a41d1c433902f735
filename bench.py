#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec}, "sf": ..., "corrected_turns_per_sec": ...}

Headline = the flagship extraction+correction pipeline over a synthetic
transcripts table sized from the sf's documents rowcount (the engine's
BASELINE.md metric: corrected turns/sec), plus the heaviest SQL-analog
operators (dedup LSH, cosine top-k, salted reassembly, pricing summary).
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys
import time


def _burn(q):
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i * i
    q.put(time.perf_counter() - t0)


def subtree_cpu_seconds() -> float:
    """CPU seconds (utime+stime) of this process's whole subtree — the JVM
    plus every pyspark.daemon Python worker it forked (same method as
    scripts/scaling_diagnosis.py).  Snapshot deltas taken IMMEDIATELY
    around a timed rep measure the ENGINE's CPU for that rep: burn-probe
    processes run outside the snapshots and have exited by snapshot time,
    so they never contaminate the delta — unlike getrusage(RUSAGE_CHILDREN),
    which accumulates every reaped child including the probes."""
    tck = os.sysconf("SC_CLK_TCK")

    def children(pid):
        out = []
        try:
            for t in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{t}/children") as f:
                    out += [int(x) for x in f.read().split()]
        except Exception:
            pass
        return out

    total, stack, seen = 0.0, [os.getpid()], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(") ", 1)[1].split()
            total += (int(rest[11]) + int(rest[12])) / tck  # utime+stime
        except Exception:
            pass
        stack += children(p)
    return total


def measure_capacity(n_workers: int, with_burn: bool = False):
    """Deliverable aggregate CPU capacity for n_workers concurrent pure-
    Python processes (burn-loops/sec) — the shared-host calibration taken
    IMMEDIATELY around the timed reps so the number reflects the same
    machine conditions the rep saw.

    ``with_burn``: also return the mean per-process burn DURATION — fixed
    work per process, so its growth with worker count measures the host's
    CPU-time inflation under concurrency (frequency scaling / SMT sibling
    contention).  The scaling driver divides the engine's CPU
    work-invariance ratio by this hardware inflation: what remains is
    engine overhead, not silicon physics."""
    q = multiprocessing.Queue()
    ps = [multiprocessing.Process(target=_burn, args=(q,)) for _ in range(n_workers)]
    t0 = time.perf_counter()
    for p in ps:
        p.start()
    for p in ps:
        p.join()
    wall = time.perf_counter() - t0
    burns = [q.get() for _ in range(n_workers)]
    rate = round(n_workers / wall, 3)
    if with_burn:
        return rate, round(sum(burns) / len(burns), 4)
    return rate


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import functions as F

    from ocr_corrector_spark.operators import sqlops
    from ocr_corrector_spark.plans.pipeline import correct_pipeline
    from ocr_corrector_spark.session import get_spark
    from ocr_corrector_spark.sources.tables import load_table
    from ocr_corrector_spark.sources.transcripts import gen_transcripts

    spark = get_spark(app_name="bench", cpus=cpus, shuffle_partitions=max(32, cpus))
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # --- headline: correction throughput ---------------------------------
    n_docs = load_table(spark, sf_dir, "documents").count()
    # SPARK_GRAFT_SCALE_MULT scales the synthetic input (scaling runs use a
    # larger multiple so compute dominates fixed per-job overhead)
    mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "12"))
    n_convs = max(200, n_docs * mult)
    # One frame PER REP, distinct seeds: the correction stage memoizes row
    # results inside each Python worker (legitimate for repetitive OCR
    # boilerplate), so timing the SAME input repeatedly would measure the
    # memo, not the engine.  Distinct seeds give same-shaped, textually
    # distinct inputs — each rep is an honest cold-data run.
    # Fixed 128-partition input regardless of core count: scaling runs
    # compare local[N] vs local[4N] on the SAME materialized input — if the
    # partition count tracked cores, the small config would run few fat
    # partitions with terrible straggler sensitivity and the ratio would
    # measure load balance, not the engine.
    # SPARK_GRAFT_FLAGSHIP_REPS/SEED_BASE let the scaling driver run short
    # interleaved N/4N rounds (same seed both configs per round) — this
    # sandbox's background contention varies on a minutes timescale, so
    # two long sequential phases would measure the machine, not scaling.
    # SPARK_GRAFT_INPUT_DIR: pre-materialized frames on disk (written once
    # by the scaling driver) — drops per-round datagen cost so interleaved
    # rounds are short enough that host conditions can't drift mid-round.
    n_reps = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_REPS", "3"))
    seed_base = int(os.environ.get("SPARK_GRAFT_SEED_BASE", "1"))
    input_dir = os.environ.get("SPARK_GRAFT_INPUT_DIR")
    if input_dir:
        frames = [
            spark.read.parquet(os.path.join(input_dir, f"seed{s}")).persist()
            for s in range(seed_base, seed_base + n_reps)
        ]
    else:
        frames = [
            gen_transcripts(spark, n_convs=n_convs, seed=s).repartition(128).persist()
            for s in range(seed_base, seed_base + n_reps)
        ]
    n_turns = frames[0].count()  # materialize outside the timed region
    for fr in frames[1:]:
        fr.count()

    # SPARK_GRAFT_DEDUP_CORRECTION=1 switches the flagship to the
    # distinct→correct→join plan (plans/pipeline dedup_correction): ~35%
    # less engine CPU at local[4] (54 vs 81 s, same-window A/B) but extra
    # stage barriers cap utilization at width, so the per-row plan stays
    # the default benchmark job; the dedup plan's own numbers are reported
    # separately as flagship_dedup.
    dedup_corr = os.environ.get("SPARK_GRAFT_DEDUP_CORRECTION", "0") == "1"

    def run_pipeline(frame):
        corrected = correct_pipeline(
            frame, spark, order_output=True, dedup_correction=dedup_corr
        )
        # checksum forces extraction + correction + the ordering shuffle
        corrected.agg(F.sum(F.length("text_corrected")), F.count(F.lit(1))).collect()

    # Warm-up: the FIRST execution of each UDF in a session pays a one-time
    # per-Python-worker ramp (closure unpickle + module/pandas imports in
    # every worker; ~15s at local[32]).  A 10^12-turn job amortizes that to
    # zero, so the headline metric is STEADY-STATE throughput: warm all
    # workers through the real pipeline on a small slice (seed 99, disjoint
    # from the timed seeds), then time one run per frame.
    run_pipeline(
        gen_transcripts(spark, n_convs=max(64, cpus * 8), seed=99).repartition(
            cpus * 2
        )
    )
    # Quiet-window protocol (VERDICT r02 #6): capacity probes BRACKET every
    # flagship rep; a rep whose bracket dips below the floor ran in a
    # degraded host window and is RERUN on a fresh seed (bounded retries) —
    # so the committed flagship number is a quiet-window measurement or an
    # explicit degraded marker, never a silent artifact of shared-host load.
    cap_floor = float(os.environ.get("SPARK_GRAFT_CAP_FLOOR_PER_CORE", "1.5")) * cpus
    max_retries = int(os.environ.get("SPARK_GRAFT_REP_RETRIES", "2"))
    scaling_mode = bool(os.environ.get("SPARK_GRAFT_SKIP_QUERIES"))
    reps, rep_probes, degraded_reps = [], [], 0
    cap, burn = measure_capacity(cpus, with_burn=True)
    retry_seed = seed_base + 1000
    queue = list(frames)
    while queue:
        fr = queue.pop(0)
        pre, burn_pre = cap, burn
        c0 = subtree_cpu_seconds()
        t0 = time.perf_counter()
        run_pipeline(fr)
        wall = time.perf_counter() - t0
        rep_cpu = subtree_cpu_seconds() - c0
        cap, burn = measure_capacity(cpus, with_burn=True)
        post, burn_post = cap, burn
        fr.unpersist()
        quiet = min(pre, post) >= cap_floor
        rep_probes.append(
            {
                "pre": pre,
                "post": post,
                "burn_pre": burn_pre,
                "burn_post": burn_post,
                "sec": round(wall, 3),
                "engine_cpu_sec": round(rep_cpu, 1),
                "quiet": quiet,
            }
        )
        reps.append(wall)
        # retries only in full-bench mode: the scaling driver has its own
        # round gates and must see every rep it asked for
        if not quiet and not scaling_mode and degraded_reps < max_retries:
            degraded_reps += 1
            # retry frame must match the TIMED input's size: with a
            # pre-materialized input dir the local n_convs (default mult)
            # can be smaller than the materialized frames, and a smaller
            # retry frame would inflate corrected_turns_per_sec
            retry_n = (
                fr.select(F.countDistinct("conv_id")).collect()[0][0]
                if input_dir
                else n_convs
            )
            nf = gen_transcripts(
                spark, n_convs=retry_n, seed=retry_seed
            ).repartition(128).persist()
            retry_seed += 1
            nf.count()
            queue.append(nf)
    # min over quiet-bracketed reps when any exist (the steady-state
    # estimator this sandbox's sporadic stalls demand); if NO rep had a
    # quiet bracket, fall back to min of all and mark the window degraded
    quiet_probes = [p for p in rep_probes if p["quiet"]]
    degraded_window = not quiet_probes
    pool = quiet_probes if quiet_probes else rep_probes
    best = min(pool, key=lambda p: p["sec"])
    correct_sec = best["sec"]
    timings["flagship_correct"] = round(correct_sec, 3)
    flagship_reps = [round(r, 3) for r in reps]
    caps = [rep_probes[0]["pre"]] + [p["post"] for p in rep_probes]
    # engine CPU of the headline rep — the scaling driver's work-invariance
    # numerator/denominator (JVM + Python workers; probes excluded) — plus
    # the bracketing probes' mean per-process burn duration (the hardware
    # CPU-time-inflation reference for the same window)
    flagship_engine_cpu = best["engine_cpu_sec"]
    flagship_probe_burn = round((best["burn_pre"] + best["burn_post"]) / 2, 4)

    # fused_correct (operators/fused.py: the default plan's single Arrow
    # crossing without the ordering shuffle) — fresh seeds so the default
    # reps' row memo can't serve it.  Skipped in scaling rounds
    # (SKIP_QUERIES): the scaling ratio only needs the default flagship.
    if scaling_mode:
        _report(
            timings, sf, cpus, n_turns, flagship_reps, caps, correct_sec,
            rep_probes, degraded_window,
            flagship_engine_cpu=flagship_engine_cpu,
            flagship_probe_burn=flagship_probe_burn,
        )
        spark.stop()
        return

    from ocr_corrector_spark.operators.fused import fused_correct

    fused_frames = [
        (
            spark.read.parquet(os.path.join(input_dir, f"seed{s}"))
            if input_dir and os.path.isdir(os.path.join(input_dir, f"seed{s}"))
            else gen_transcripts(spark, n_convs=n_convs, seed=s + 50).repartition(128)
        ).persist()
        for s in range(seed_base + 10, seed_base + 10 + n_reps)
    ]
    for fr in fused_frames:
        fr.count()
    fused_reps = []
    for fr in fused_frames:
        t0 = time.perf_counter()
        fused_correct(fr, spark).agg(
            F.sum(F.length("text_corrected")), F.count(F.lit(1))
        ).collect()
        fused_reps.append(time.perf_counter() - t0)
    fused_sec = min(fused_reps)
    timings["flagship_fused"] = round(fused_sec, 3)
    for fr in fused_frames:
        fr.unpersist()

    # dedup-correction plan (distinct (text, err_key, biz) → Python stages
    # once per unique → SHUFFLE_HASH join back): the width-invariant-work
    # variant, priced next to the per-row default.  Fresh seeds so the
    # default variant's worker memo can't serve it.
    dd_frames = [
        gen_transcripts(spark, n_convs=n_convs, seed=s + 240).repartition(128).persist()
        for s in range(seed_base, seed_base + min(2, n_reps))
    ]
    for fr in dd_frames:
        fr.count()
    dd_reps = []
    for fr in dd_frames:
        t0 = time.perf_counter()
        correct_pipeline(
            fr, spark, order_output=True, dedup_correction=True
        ).agg(F.sum(F.length("text_corrected")), F.count(F.lit(1))).collect()
        dd_reps.append(time.perf_counter() - t0)
    timings["flagship_dedup"] = round(min(dd_reps), 3)
    for fr in dd_frames:
        fr.unpersist()

    # framed scorer backend (tokenize → frame → context-score per row):
    # the T11/T12-wired path, priced next to the char-keyed default.
    # Fresh seeds so neither earlier variant's row memo can serve it.
    framed_frames = [
        gen_transcripts(spark, n_convs=n_convs, seed=s + 80).repartition(128).persist()
        for s in range(seed_base, seed_base + min(2, n_reps))
    ]
    for fr in framed_frames:
        fr.count()
    framed_reps = []
    for fr in framed_frames:
        t0 = time.perf_counter()
        correct_pipeline(fr, spark, order_output=True, scorer_backend="framed").agg(
            F.sum(F.length("text_corrected")), F.count(F.lit(1))
        ).collect()
        framed_reps.append(time.perf_counter() - t0)
    timings["flagship_framed"] = round(min(framed_reps), 3)
    for fr in framed_frames:
        fr.unpersist()

    # numpy masked-LM backend (real checkpoint load + forward pass at
    # masked positions) — priced next to the stand-ins.  Fresh seeds again.
    lm_frames = [
        gen_transcripts(spark, n_convs=n_convs, seed=s + 160).repartition(128).persist()
        for s in range(seed_base, seed_base + min(2, n_reps))
    ]
    for fr in lm_frames:
        fr.count()
    lm_reps = []
    for fr in lm_frames:
        t0 = time.perf_counter()
        correct_pipeline(fr, spark, order_output=True, scorer_backend="lm").agg(
            F.sum(F.length("text_corrected")), F.count(F.lit(1))
        ).collect()
        lm_reps.append(time.perf_counter() - t0)
    timings["flagship_lm"] = round(min(lm_reps), 3)
    for fr in lm_frames:
        fr.unpersist()

    # --- SQL-analog operators (steady state: warm once, median of 3) ------
    query_names = () if os.environ.get("SPARK_GRAFT_SKIP_QUERIES") else (
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
    from ocr_corrector_spark.operators.multimodal import (
        q_image_ahash,
        q_image_stats,
    )

    query_probes: dict[str, float] = {}
    query_rep_med: dict[str, float] = {}
    for name in query_names:
        fn = {"image_stats": q_image_stats, "image_ahash": q_image_ahash}.get(
            name
        ) or getattr(sqlops, f"q_{name}")
        fn(spark, sf_dir).agg(F.count(F.lit(1))).collect()  # warm (IO + codegen)
        # 5 reps (vs 3 for the expensive flagship): these queries run ~1s
        # each, and the sandbox's sporadic multi-second stalls otherwise
        # poison even a min-of-3 too often
        q_reps = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(spark, sf_dir).agg(F.count(F.lit(1))).collect()
            q_reps.append(time.perf_counter() - t0)
        timings[name] = round(min(q_reps), 3)
        q_reps.sort()
        query_rep_med[name] = round(q_reps[len(q_reps) // 2], 3)
        # one probe per query: a degraded window is self-explaining per row
        query_probes[name] = measure_capacity(cpus)

    _report(
        timings, sf, cpus, n_turns, flagship_reps, caps, correct_sec,
        rep_probes, degraded_window, query_probes, flagship_engine_cpu,
        flagship_probe_burn, query_rep_med,
    )
    spark.stop()


def _scaling_evidence() -> dict | None:
    """The committed gated scaling artifact (scripts/scaling.py →
    BENCH/scaling_evidence.json), embedded so the per-round bench JSON
    carries the N→4N evidence itself."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling_evidence.json"
    )
    try:
        with open(path) as f:
            ev = json.load(f)
    except Exception:
        return None
    sel = ev.get("best_gated_round") or ev.get("selected_round") or {}
    wi = ev.get("work_invariance") or {}
    return {
        # headline = MEDIAN of gated rounds (never a best-of-N pick)
        "raw_efficiency": ev.get("raw_efficiency"),
        "meets_target": ev.get("meets_target"),
        "target": ev.get("target"),
        "median_eff_gated": ev.get("median_eff_gated"),
        "median_eff_gated_wi_clean": ev.get("median_eff_gated_wi_clean"),
        "work_invariance_median_gated": wi.get("median_gated"),
        "work_invariance_target_max": wi.get("target_max"),
        "work_invariance_meets_target": wi.get("meets_target"),
        "n_cores": ev.get("n_cores"),
        "n4_cores": ev.get("n4_cores"),
        "best_gated_thr_N_pre": sel.get("thr_N_pre"),
        "best_gated_thr_4N": sel.get("thr_4N"),
        "best_gated_thr_N_post": sel.get("thr_N_post"),
        "measured_utc": sel.get("started_utc"),
        "gate": ev.get("gate", {}).get("definition"),
        "rounds_run": len(ev.get("rounds", [])),
        # same-round paired host ceiling: the host's own busy-loop N->4N
        # efficiency (cap_ratio/4) vs the engine's, gated rounds
        "host_eff_gated": (ev.get("host_ceiling") or {}).get(
            "median_host_probe_eff_gated"
        ),
        "eng_ge_host_gated": "%s/%s"
        % (
            (ev.get("host_ceiling") or {}).get("n_gated_engine_ge_host"),
            (ev.get("host_ceiling") or {}).get("n_gated"),
        ),
        "artifact": "BENCH/scaling_evidence.json",
    }


def _report(
    timings, sf, cpus, n_turns, flagship_reps, caps, correct_sec,
    rep_probes=None, degraded_window=False, query_probes=None,
    flagship_engine_cpu=None, flagship_probe_burn=None, query_rep_med=None,
):
    out = {
        "metric": "headline suite wall time (flagship correction + operator analogs)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_turns": n_turns,
        "flagship_reps": flagship_reps,
        "hw_capacity_probes": caps,
        "flagship_rep_probes": rep_probes,
        "degraded_window": degraded_window,
        "flagship_engine_cpu_sec": flagship_engine_cpu,
        "flagship_probe_burn_sec": flagship_probe_burn,
        "corrected_turns_per_sec": round(n_turns / correct_sec, 1),
    }
    if query_probes:
        out["query_probes"] = query_probes
    if query_rep_med:
        out["query_rep_med"] = query_rep_med
    # Per-query noise flags for the DRIVER-VISIBLE compact line: a query is
    # flagged when its median-of-5 rep reads >=1.5x its min (a stall hit
    # the timed reps) or its bracketing capacity probe fell >=30% below the
    # run's best (co-tenant pressure at that moment).  Normally empty, so a
    # clean run costs ~0 chars; in a noisy window the affected queries are
    # self-evident per row instead of poisoning the artifact silently.
    noisy_queries = {}
    if query_probes and query_rep_med:
        probe_best = max(query_probes.values())
        for name, med in query_rep_med.items():
            t_min = timings.get(name)
            probe = query_probes.get(name)
            if t_min and (
                med >= 1.5 * t_min
                or (probe is not None and probe < 0.7 * probe_best)
            ):
                noisy_queries[name] = {
                    "min": t_min, "med": med, "probe": probe,
                }
    # bound the compact budget: worst 8 by med/min ratio
    if len(noisy_queries) > 8:
        worst = sorted(
            noisy_queries.items(),
            key=lambda kv: kv[1]["med"] / kv[1]["min"],
            reverse=True,
        )[:8]
        noisy_queries = dict(worst)
    out["noisy_queries"] = noisy_queries
    if "flagship_fused" in timings:
        out["fused_turns_per_sec"] = round(n_turns / timings["flagship_fused"], 1)
    scaling = _scaling_evidence()
    if scaling is not None:
        out["scaling"] = scaling

    # Full report (probes, gate definitions, scaling detail) goes to a file;
    # the driver's stdout capture keeps only a 2000-char tail, so the final
    # printed line must stay compact or the per-round artifact loses the
    # queries map (BENCH_r03.json parsed: null).  The COMMITTED copy
    # (BENCH/last_bench.json) is only written on an explicit refresh
    # (SPARK_GRAFT_BENCH_COMMIT=1); ad-hoc/concurrent runs default to a
    # per-PID temp path so they never clobber or race on the tracked
    # artifact.
    if os.environ.get("SPARK_GRAFT_BENCH_OUT"):
        full_path = os.environ["SPARK_GRAFT_BENCH_OUT"]
    elif os.environ.get("SPARK_GRAFT_BENCH_COMMIT"):
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_bench.json"
        )
    else:
        import tempfile

        full_path = os.path.join(
            tempfile.gettempdir(), f"spark_graft_bench_{os.getpid()}.json"
        )
    try:
        with open(full_path, "w") as f:
            json.dump(out, f, indent=1)
    except Exception:
        pass

    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "cpus", "n_turns",
            "degraded_window", "corrected_turns_per_sec", "fused_turns_per_sec",
            "noisy_queries",
        )
        if k in out
    }
    if scaling is not None:
        compact["scaling"] = {
            k: scaling.get(k)
            for k in (
                "median_eff_gated", "median_eff_gated_wi_clean",
                "meets_target", "target", "rounds_run",
                "work_invariance_median_gated", "host_eff_gated",
                "eng_ge_host_gated", "artifact",
            )
        }
    compact["full_report"] = full_path
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # shed noise detail first, then the per-query map
        compact["noisy_queries"] = "see full_report"
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        compact["queries"] = "see full_report"
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
