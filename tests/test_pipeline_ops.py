"""Structural invariants for the training-data pipeline operators added in
round 3 (packing, stratified sampling, TF-IDF ranking, decontamination,
group-representative selection).  The value-level checks live in
tests/test_entry_oracle.py; these pin the properties the oracle hash can't
see (monotonicity, nesting, exactly-one-keep)."""

import os

from pyspark.sql import functions as F

from ocr_corrector_spark.operators import sqlops

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


def test_pack_sequences_monotone_and_zero_based(spark):
    out = sqlops.q_pack_sequences(spark, SF_DIR).collect()
    by_stream = {}
    for r in out:
        by_stream.setdefault((r.source, r.subshard), []).append(r)
    for stream, rows in by_stream.items():
        rows.sort(key=lambda r: r.doc_id)
        # first doc of every stream starts pack 0; pack ids never decrease
        assert rows[0].pack_id == 0, stream
        packs = [r.pack_id for r in rows]
        assert packs == sorted(packs), stream
        # a pack boundary is crossed only when the running total passes the
        # budget: tokens strictly before the first doc of pack p are >= p*B
        cum = 0
        for r in rows:
            assert r.pack_id == cum // sqlops.PACK_BUDGET_TOKENS
            cum += r.n_tokens


def test_pack_sequences_subshards_split_hot_source(spark, tmp_path):
    """A single hot source fans out to PACK_SUBSHARDS independent packing
    streams: the window partitions on (source, subshard), never on source
    alone — the 100 TB parallelism-ceiling fix."""
    rows = [(i, "w " * 40, "hot", 41) for i in range(200)]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    df = sqlops.q_pack_sequences(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the packing window's shuffle must hash on (source, subshard)
    import re

    assert re.search(r"hashpartitioning\(source#\d+, subshard#\d+", plan), plan
    out = df.collect()
    shards = {r.subshard for r in out}
    assert len(shards) == sqlops.PACK_SUBSHARDS
    assert all(0 <= s < sqlops.PACK_SUBSHARDS for s in shards)
    # determinism: subshard is a pure function of doc_id
    again = {(r.doc_id, r.subshard) for r in df.collect()}
    assert again == {(r.doc_id, r.subshard) for r in out}


def test_stratified_sample_deterministic_and_gated(spark):
    out = sqlops.q_stratified_sample(spark, SF_DIR)
    rows = {(r.doc_id, r.lang, r.bucket) for r in out.collect()}
    again = {(r.doc_id, r.lang, r.bucket) for r in out.collect()}
    assert rows == again  # no rand() anywhere
    for _, lang, bucket in rows:
        limit = (
            sqlops.SAMPLE_RATE_EN if lang == "en" else sqlops.SAMPLE_RATE_OTHER
        )
        assert 0 <= bucket < limit


def test_tfidf_top_terms_ranked(spark):
    out = sqlops.q_tfidf_top_terms(spark, SF_DIR).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in per_doc.items():
        rows.sort(key=lambda r: r.rk)
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= sqlops.TFIDF_TOP_K
        scores = [r.tfidf for r in rows]
        assert scores == sorted(scores, reverse=True), doc_id


def test_decontaminate_excludes_eval_and_flags_consistently(spark):
    from ocr_corrector_spark.sources.tables import load_table

    out = sqlops.q_decontaminate(spark, SF_DIR)
    rows = out.collect()
    eval_ids = {
        r.doc_id
        for r in load_table(spark, SF_DIR, "documents")
        .filter(F.col("source") == sqlops.DECON_EVAL_SOURCE)
        .select("doc_id")
        .collect()
    }
    assert eval_ids, "fixture must contain eval-source docs"
    assert not ({r.doc_id for r in rows} & eval_ids)
    assert any(r.contaminated == 1 for r in rows), (
        "synthetic corpus repeats 5-grams; expected at least one hit"
    )
    for r in rows:
        assert (r.n_shared_grams > 0) == (r.contaminated == 1)


def test_group_representative_exactly_one_keep_per_group(spark):
    rows = sqlops.q_group_representative(spark, SF_DIR).collect()
    groups = {}
    for r in rows:
        groups.setdefault(r.group_id, []).append(r)
    assert groups
    for gid, members in groups.items():
        kept = [r for r in members if r.keep == 1]
        assert len(kept) == 1, gid
        best = max(members, key=lambda r: (r.n_tokens, -r.doc_id))
        assert kept[0].doc_id == best.doc_id


def test_repetition_score_bounds_and_keep_rule(spark):
    rows = sqlops.q_repetition_score(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_distinct <= r.n_grams
        assert 1 <= r.max_gram_count <= r.n_grams
        assert 0.0 <= r.dup_frac < 1.0
        assert (r.dup_frac <= sqlops.REPEAT_MAX_DUP_FRAC) == (r.keep == 1)
    # the synthetic corpus draws from a small vocabulary: some doc repeats
    assert any(r.max_gram_count > 1 for r in rows)


def test_pii_scrub_masks_every_digit(spark):
    rows = sqlops.q_pii_scrub(spark, SF_DIR).collect()
    assert rows
    assert any("<num>" in r.scrubbed for r in rows)
    for r in rows:
        assert not any(c.isdigit() for c in r.scrubbed), r.scrubbed
        assert r.len_scrubbed == len(r.scrubbed)
        assert r.scrubbed == r.scrubbed.lower()


def test_bpe_pair_counts_ranked_dense(spark):
    rows = sorted(
        sqlops.q_bpe_pair_counts(spark, SF_DIR).collect(), key=lambda r: r.rk
    )
    assert rows and len(rows) <= sqlops.BPE_PAIR_TOP_K
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.cnt for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(c >= sqlops.BPE_PAIR_MIN_COUNT for c in counts)
    assert all(len(r.pair.split(" ")) == 2 for r in rows)


def test_domain_mix_rates_and_determinism(spark):
    out = sqlops.q_domain_mix_sample(spark, SF_DIR)
    rows = out.collect()
    again = rows == out.collect()
    assert again
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    # upweighted sources cap at rate 1.0 and keep everything
    for src in ("src0", "src1"):
        assert all(r.keep_rate == 1.0 and r.keep == 1 for r in by_src[src]), src
    # downsampled sources achieve roughly their rate (md5 gate, small n)
    other = [r for s, rs in by_src.items() if s not in ("src0", "src1") for r in rs]
    assert 0 < sum(r.keep for r in other) < len(other)
    for r in other:
        assert 0.0 < r.keep_rate < 1.0


def test_column_profile_consistency(spark):
    rows = sqlops.q_column_profile(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.min_chars <= r.median_chars <= r.max_chars
        assert r.min_chars <= r.mean_chars <= r.max_chars
        assert r.n_docs > 0 and r.n_tokens >= r.n_docs
        assert r.n_langs >= 1


def test_asof_join_point_in_time(spark):
    from ocr_corrector_spark.sources.tables import load_table

    rows = sqlops.q_asof_join(spark, SF_DIR).collect()
    purchases = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert len(rows) == purchases  # every purchase emitted exactly once
    assert any(r.last_view_value is not None for r in rows)
    for r in rows:
        # point-in-time: the attached view never comes from the future,
        # and value/ts are attached as a consistent pair
        if r.last_view_ts is not None:
            assert r.last_view_ts <= r.ts
            assert r.last_view_value is not None
        else:
            assert r.last_view_value is None


def test_range_join_counts_against_brute_force(spark):
    from datetime import timedelta

    from ocr_corrector_spark.sources.tables import load_table

    out = {r.event_id: r.n_views_24h for r in sqlops.q_range_join(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events").collect()
    views = {}
    for e in ev:
        if e.event_type == "view":
            views.setdefault(e.user_id, []).append(e.ts)
    checked = 0
    for e in ev:
        if e.event_type != "purchase" or e.event_id % 37:
            continue  # spot-check a deterministic subset
        lo = e.ts - timedelta(hours=sqlops.RANGE_JOIN_WINDOW_HOURS)
        expect = sum(1 for t in views.get(e.user_id, ()) if lo <= t < e.ts)
        assert out[e.event_id] == expect, e.event_id
        checked += 1
    assert checked > 5
    assert any(v > 0 for v in out.values())


def test_curation_pipeline_composes_stage_decisions(spark):
    rows = sqlops.q_curation_pipeline(spark, SF_DIR).collect()
    assert rows
    kept = {r.doc_id for r in rows}
    # every stage's drop decision is honored in the composed output
    q_drop = {
        r.doc_id
        for r in sqlops.q_quality_filter(spark, SF_DIR).collect()
        if r.keep == 0
    }
    contaminated = {
        r.doc_id
        for r in sqlops.q_decontaminate(spark, SF_DIR).collect()
        if r.contaminated == 1
    }
    g_drop = {
        r.doc_id
        for r in sqlops.q_group_representative(spark, SF_DIR).collect()
        if r.keep == 0
    }
    assert not (kept & (q_drop | contaminated | g_drop))
    # packing invariant holds over the surviving set, per (source, subshard)
    by_stream = {}
    for r in rows:
        by_stream.setdefault((r.source, r.subshard), []).append(r)
    for stream, rs in by_stream.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.pack_id == cum // sqlops.PACK_BUDGET_TOKENS, stream
            cum += r.n_tokens


def test_incremental_dedup_splits_sides(spark):
    rows = sqlops.q_incremental_dedup(spark, SF_DIR).collect()
    assert rows, "synthetic corpus contains near-dups across the split"
    for r in rows:
        assert r.new_doc % 10 == 0
        assert r.index_doc % 10 != 0
        assert r.jaccard >= 0.30


def test_bruteforce_eval_guard_fences_oversized_input(spark, monkeypatch):
    """The two O(n²) eval baselines refuse to self-join more rows than the
    fence allows — a user who lifts the id-range cap gets a runtime error,
    not a cartesian blow-up.  The fence is LAZY: building the DataFrame
    (plan inspection / query registration) runs no job and raises nothing;
    the error fires at execution."""
    import pytest as _pytest

    monkeypatch.setattr(sqlops, "BRUTEFORCE_EVAL_MAX_ROWS", 5)
    df = sqlops.q_ngram_jaccard(spark, SF_DIR)   # construction: no job, no raise
    df.explain()                                  # plan inspection stays cheap
    with _pytest.raises(Exception, match="brute-force EVAL baseline"):
        df.collect()
    with _pytest.raises(Exception, match="q_ann_probe_topk"):
        sqlops.q_embedding_neardup(spark, SF_DIR).collect()


def test_bruteforce_eval_guard_passes_bounded_input(spark):
    """Under the committed cap the eval baselines still run (guard count is
    on the pushed-down bounded slice, so this also pins that the id-range
    predicate stayed in place)."""
    assert sqlops.q_ngram_jaccard(spark, SF_DIR).count() >= 0
    assert sqlops.q_embedding_neardup(spark, SF_DIR).count() >= 0


def _semdedup_run(spark, sf):
    """``q_semantic_dedup``'s ``{vec_id: (centroid_id, keep)}`` on ``sf``
    and the embeddings it read, as numpy vectors."""
    import numpy as np

    out = {r.vec_id: (r.centroid_id, r.keep)
           for r in sqlops.q_semantic_dedup(spark, sf).collect()}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in sqlops.load_table(spark, sf, "embeddings").collect()
    }
    assert set(out) == set(emb)
    return out, emb


def _semdedup_brute_force_keep(out, emb):
    """The keep rule recomputed in numpy on the driver: a vector is dropped
    when a smaller-id vector of its cell — its cluster, sub-split by
    ``vec_id mod ceil(n_cluster / SEMDEDUP_MAX_CLUSTER)`` — is within
    SEMDEDUP_COS_MIN cosine."""
    import math

    import numpy as np

    by_cluster = {}
    for vid, (cid, _) in out.items():
        by_cluster.setdefault(cid, []).append(vid)
    keep = {}
    for vids in by_cluster.values():
        n_subs = math.ceil(len(vids) / sqlops.SEMDEDUP_MAX_CLUSTER)
        cells = {}
        for v in sorted(vids):
            cells.setdefault(v % n_subs, []).append(v)
        for cell in cells.values():
            for i, v in enumerate(cell):
                has_neighbor = any(
                    round(float(emb[u] @ emb[v]
                          / (np.sqrt(emb[u] @ emb[u]) * np.sqrt(emb[v] @ emb[v]))), 6)
                    >= sqlops.SEMDEDUP_COS_MIN
                    for u in cell[:i]
                )
                keep[v] = 0 if has_neighbor else 1
    return keep


def test_semantic_dedup_keep_rule_brute_force(spark):
    """Every dropped vector has a smaller-id same-cluster neighbor within
    SEMDEDUP_COS_MIN; every kept vector has none — recomputed brute-force
    in numpy on the driver."""
    out, emb = _semdedup_run(spark, "/root/testdata/sf0.001")
    keep = _semdedup_brute_force_keep(out, emb)
    assert {v: k for v, (_, k) in out.items()} == keep
    assert 0 in keep.values(), "fixture should contain semantic near-dups"


def test_semantic_dedup_keep_rule_on_heavy_duplicate_mass(spark, tmp_path):
    """The drop list grows with the near-dup mass: with most vectors near
    copies of a few bases, the keep flags still equal the brute-force rule."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    bases = rng.normal(size=(24, 16))
    copies = np.repeat(bases, 5, axis=0) + rng.normal(scale=0.05, size=(120, 16))
    vecs = rng.permutation(np.vstack([bases, copies])).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    out, emb = _semdedup_run(spark, str(tmp_path))
    keep = _semdedup_brute_force_keep(out, emb)
    assert {v: k for v, (_, k) in out.items()} == keep
    assert list(keep.values()).count(0) >= 0.3 * len(keep)


def test_semantic_dedup_plan_cluster_bounded(spark):
    """The pairwise stage is an equi-join on centroid_id (cluster-bounded);
    the only nested loops are against the broadcast IVF_K-row codebook, and
    the drop list, which grows with the near-dup mass, joins back with no
    broadcast hint (AQE may still broadcast it when it is small)."""
    df = sqlops.q_semantic_dedup(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # corpus-vs-corpus pair generation must be a hash/merge equi-join
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    # nested loops only where a side is the broadcast codebook (8 rows):
    # every BroadcastNestedLoopJoin must sit above a broadcast of cents
    import re

    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan
    assert "BroadcastHashJoin" in plan, plan  # vectors join their assignment
    # the drop list is not forced to broadcast
    assert not re.search(r"BroadcastHashJoin \[[^\]]*\], \[[^\]]*\], LeftOuter", plan), plan


def test_semantic_dedup_cluster_size_guard(spark, monkeypatch):
    """Degenerate-codebook guard: with SEMDEDUP_MAX_CLUSTER forced below
    the real cluster sizes, oversized clusters are sub-split
    deterministically (vec_id mod ceil(n/max)) and pairs are compared only
    within a (centroid_id, sub_id) cell — recomputed brute-force with the
    same formula.  Also pins that the DuckDB oracle mirrors the split, so
    the correctness gate holds in the guarded regime too."""
    import duckdb

    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(sqlops, "SEMDEDUP_MAX_CLUSTER", 4)
    out, emb = _semdedup_run(spark, sf)
    sizes = {}
    for cid, _ in out.values():
        sizes[cid] = sizes.get(cid, 0) + 1
    assert max(sizes.values()) > 4, "fixture must exercise the split path"
    assert {v: k for v, (_, k) in out.items()} == _semdedup_brute_force_keep(out, emb)

    # oracle mirrors the same split: hash-equal under the patched cap
    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    sql = entry_mod.oracle_sql()["semantic_dedup"]
    ora = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    con.close()
    assert ora == out
