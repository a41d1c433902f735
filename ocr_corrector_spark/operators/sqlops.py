"""SQL-expressible operator analogs over the TPC-H-ish testdata.

Each function here is the DataFrame-API form of one engine operator from
SURVEY.md §2 (or a driver-mandated training-pipeline operator), written so
that a DuckDB ANSI-SQL oracle can reproduce it bit-for-bit at sf=0.01
(__spark_entry__.py pairs them).  Conventions for oracle-hash stability:

* every computed column is aliased identically in both engines;
* doubles are rounded; arrays are stringified (array_join) — the driver
  hashes rendered values;
* ties in top-k/argmax are broken by a deterministic secondary key.

Plan-quality notes: filters and projections are expressed natively so
they reach the parquet scan (PushedFilters / ReadSchema); small dimension
sides are broadcast; aggregations rely on map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table


# --- F3 analog: positional detection ----------------------------------------
def q_err_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indices of the token 'spark' within each document's token stream —
    the err-position vector shape of base_corrector.py:109-119 expressed
    as a native array filter (no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    pos = F.filter(
        F.sequence(F.lit(0), F.size(words) - 1),
        lambda i: F.element_at(words, i + 1) == F.lit("spark"),
    )
    return docs.select(
        "doc_id",
        F.array_join(pos, ",").alias("err_pos_csv"),
        F.size(pos).alias("n_hits"),
    ).filter(F.col("n_hits") > 0)


# --- T1 analog: digit → CJK-numeral rewrite ----------------------------------
def q_digit_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bert_corrector.py:37-42 as a native translate() over a digit-bearing
    column."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.translate(F.col("n_chars").cast("string"), "1234567890", "一二三四五六七八九零").alias(
            "translated"
        ),
    )


# --- J1 analog: fuzzy keyword semi-join --------------------------------------
FUZZY_KEYWORDS = ("spark", "scan", "sort", "join", "merge", "batch")


def q_keyword_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BK-tree dictionary lookup (BKtree.py:49-72) as its set-semantics SQL
    analog: levenshtein theta-join of each document's first token against a
    broadcast keyword dimension, counted per keyword."""
    docs = load_table(spark, sf_dir, "documents")
    # a literal frame built in the JVM: one from a Python list runs a Python job
    kws = spark.range(1).select(F.explode(F.array(*map(F.lit, FUZZY_KEYWORDS))).alias("kw"))
    first = F.element_at(F.split(F.col("text"), " "), 1)
    joined = docs.select(first.alias("tok")).join(
        F.broadcast(kws), F.levenshtein(F.col("tok"), F.col("kw")) <= 1
    )
    return joined.groupBy("kw").agg(F.count(F.lit(1)).alias("n_matches"))


# --- J2 analog: argmax candidate ranking --------------------------------------
def q_argmax_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyword_corrector.py:84-99 argmax-accept as max_by per group:
    for each nation, the supplier with the highest account balance."""
    sup = load_table(spark, sf_dir, "supplier")
    return sup.groupBy("s_nationkey").agg(
        F.max_by("s_name", "s_acctbal").alias("best_supplier"),
        F.round(F.max("s_acctbal"), 2).alias("best_acctbal"),
    )


# --- A3 analog: confusion-pair counting + top-1 -------------------------------
def q_confusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create_data.py:80-147 confusion statistics shape: count
    (priority, status) pairs, keep each priority's most frequent status
    (deterministic tie-break on status)."""
    orders = load_table(spark, sf_dir, "orders")
    pairs = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("n"), F.asc("o_orderstatus")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_orderpriority", "o_orderstatus", "n")
    )


# --- S5 analog: changed-rows diff ----------------------------------------------
def q_changed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """demo.py:67-70 diff: rows altered by a rewrite (here: uppercase the
    token 'table')."""
    docs = load_table(spark, sf_dir, "documents")
    rewritten = F.regexp_replace(F.col("text"), r"\btable\b", "TABLE")
    return (
        docs.select("doc_id", "text", rewritten.alias("text_corrected"))
        .filter(F.col("text_corrected") != F.col("text"))
        .select("doc_id")
    )


# --- A4 analog: per-group correction metrics -----------------------------------
def q_group_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit-metrics shape over events."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# --- F4 analog: salted order-preserving reassembly ------------------------------
def _event_sequences(ev: DataFrame) -> DataFrame:
    """(user_id, events): each user's event_type array in stable
    (ts, event_id) order, built with the two-stage SALTED aggregation from
    operators/reassemble.py (a hot user cannot pin one reducer)."""
    payload = F.struct("ts", "event_id", "event_type")
    stage1 = (
        ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(8)))
        .groupBy("user_id", "_salt")
        .agg(F.collect_list(payload).alias("_chunk"))
    )
    return stage1.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.flatten(F.collect_list("_chunk"))),
            lambda s: s.event_type,
        ).alias("events")
    )


def q_turn_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving turn reassembly (base_corrector.py:88-94 at scale):
    per user, the (ts, event_id)-ordered event_type sequence."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    return _event_sequences(ev).select(
        "user_id", F.array_join("events", ",").alias("event_seq")
    )


# --- dedup: exact ----------------------------------------------------------------
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-duplicate detection by content hash."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.md5("text").alias("h")).groupBy("h").agg(
        F.count(F.lit(1)).alias("n_copies")
    ).filter(F.col("n_copies") > 1)


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )


# --- dedup: n-gram Jaccard near-dup -----------------------------------------------
def _word_ngrams(words, n=3):
    return F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(words, i + k + 1) for k in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


# Hard fence for the two O(n²) brute-force EVAL baselines below: they exist
# to measure the recall of their scalable twins (q_minhash_neardup_pairs,
# q_ann_probe_topk / q_ivfpq_topk), never as production paths.  A user who
# lifts the id-range filter hits this guard instead of a cartesian blow-up.
BRUTEFORCE_EVAL_MAX_ROWS = 2000


def _bruteforce_eval_guard(df: DataFrame, query: str, scalable_twin: str) -> DataFrame:
    """Refuse to self-join more than BRUTEFORCE_EVAL_MAX_ROWS rows.

    LAZY by design: building the query (plan inspection, registration)
    runs no job; the fence fires at execution via ``assert_true`` over a
    global count window evaluated before the pairwise join.  The window's
    single-partition exchange is bounded by the caller's pushed-down
    id-range predicate in the legitimate case, and in the abuse case (a
    user lifting the range filter) it costs one narrow shuffle of the
    input instead of a cartesian blow-up — then raises.
    """
    n = F.count(F.lit(1)).over(Window.partitionBy())
    fence = F.assert_true(
        n <= BRUTEFORCE_EVAL_MAX_ROWS,
        F.concat(
            F.lit(
                f"{query} is an O(n^2) brute-force EVAL baseline fenced at "
                f"{BRUTEFORCE_EVAL_MAX_ROWS} rows (got "
            ),
            n.cast("string"),
            F.lit(f"); use {scalable_twin} for production-scale data"),
        ),
    )
    return df.withColumn("_fence", fence).filter(
        F.col("_fence").isNull()
    ).drop("_fence")


def _jaccard(a, b):
    """Jaccard similarity of two set columns, rounded to 4dp (0.0 when
    both sets are empty)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 4)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-ONLY brute-force baseline: near-duplicate pairs by word-3-gram
    Jaccard >= 0.30 over a bounded id range.  O(n²) by design — it measures
    the recall of the scalable twin `q_minhash_neardup_pairs` (banded LSH
    equi-join).  Fenced by _bruteforce_eval_guard: never run it unbounded.
    """
    docs = _bruteforce_eval_guard(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", _word_ngrams(F.split("text", " ")).alias("grams")),
        "q_ngram_jaccard",
        "q_minhash_neardup_pairs",
    )
    a = docs.alias("a")
    b = docs.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        _jaccard(F.col("a.grams"), F.col("b.grams")).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.30)


# --- dedup: MinHash banding (LSH scale path) ----------------------------------------
MINHASH_SEEDS = ("s1", "s2", "s3", "s4")


def _doc_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g): one row per distinct word 3-gram of each document.

    The gram expression is exploded INLINE: aliasing the array in one
    projection and exploding the column in the next defeats projection
    collapse and re-evaluates the whole n-gram transform per consumer
    (measured 12x on the gram stage).  The repartition spreads the
    gram/md5 work across the session's cores: the bench tables are single
    parquet files (one input split), and without it the whole signature
    computation runs on one task."""
    return (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(_word_ngrams(F.split("text", " "))).alias("g"))
    )


def _minhash_band(gram_rows: DataFrame, key: str) -> DataFrame:
    """(key, band_key, grams) from (key, g) gram rows: ONE groupBy builds
    the 4-seed MinHash signature (per-seed min of md5(seed || gram); the
    band key is the concat of the 4 minhashes) and the distinct gram set,
    so there is no join back to the input.

    Each md5 runs once per exploded (gram, seed) row: an
    array_min(transform(...)) per seed would re-evaluate the (large)
    gram-construction expression once per seed after Catalyst collapses
    the projections.  Keys with no gram rows (<3 words) drop out.  The
    gram set holds 64-bit xxhash64 values, not the strings, so the band
    join ships longs; Jaccard over the hashed sets equals Jaccard over the
    grams unless two grams of a pair collide.  collect_set matches the
    array_distinct in _word_ngrams (only set sizes feed the Jaccard)."""
    keyed = gram_rows.groupBy(key).agg(
        *[
            F.min(F.md5(F.concat(F.lit(s), F.col("g")))).alias(f"mh_{s}")
            for s in MINHASH_SEEDS
        ],
        F.collect_set(F.xxhash64("g")).alias("grams"),
    )
    band = F.concat_ws("|", *[F.col(f"mh_{s}") for s in MINHASH_SEEDS])
    return keyed.select(key, band.alias("band_key"), "grams")


def q_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding: buckets of the band key with >1 doc are the LSH
    candidate groups — the shuffle key that replaces the O(n²) cross join
    at scale.  (The unused gram set is pruned from the plan.)"""
    return (
        _minhash_band(_doc_grams(spark, sf_dir), "doc_id")
        .groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


# --- similarity search: brute-force cosine top-k -------------------------------------
def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v array<double>) of the embeddings table."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _dot(x, y):
    """Dot product of two array<double> columns: a native zip_with /
    aggregate fold (JVM-side, no UDF)."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, z: acc + z
    )


def _cosine(x, y):
    """Cosine similarity of two array<double> columns (unrounded)."""
    return _dot(x, y) / (F.sqrt(_dot(x, x)) * F.sqrt(_dot(y, y)))


def _cosine_topk(cand: DataFrame) -> DataFrame:
    """Top 10 (vec_id, cos_sim) of candidate rows (vec_id, v, q): cosine
    rounded to 6dp, ties broken on vec_id."""
    scored = cand.select("vec_id", F.round(_cosine(F.col("v"), F.col("q")), 6).alias("cos_sim"))
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding ANN baseline: cosine similarity of every vector against the
    vec_id=0 query, top 10 (deterministic tie-break on vec_id)."""
    emb = _embeddings(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    return _cosine_topk(emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qvec)))


# --- text analysis: token stats / quality ---------------------------------------------
STOPWORDS = ("the", "a", "of", "and")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-/quality-scoring shape: token count, stopword ratio, mean
    token length — all native array ops."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop_n = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    return docs.select(
        "doc_id",
        F.size(words).alias("n_tokens"),
        F.round(stop_n / F.size(words), 4).alias("stopword_ratio"),
        F.round(
            (F.length("text") - F.size(words) + 1) / F.size(words), 4
        ).alias("mean_token_len"),
    )


# --- TPC-H Q1-style pricing summary (agg health check) ---------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- dedup: SimHash ---------------------------------------------------------------------
SIMHASH_BITS = 32


def _md5_u32(c):
    """The first 32 bits of md5(c) as a non-negative long — the oracles'
    ``('0x' || substring(md5(c), 1, 8))::BIGINT``."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def _doc_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w): one row per non-empty word, spread over the session's
    cores (see _doc_grams)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)


def _bit_votes(h, prefix: str) -> list:
    """SimHash's per-bit aggregates over a 32-bit hash column: ``<prefix>i``
    sums +1 for each row with bit i set and -1 for each without."""
    return [
        F.sum(F.when(h.bitwiseAND(F.lit(1 << i)) > 0, 1).otherwise(-1)).alias(f"{prefix}{i}")
        for i in range(SIMHASH_BITS)
    ]


def _bit_pack(prefix: str):
    """The 32-bit signature of _bit_votes' sums: bit i is 1 iff
    ``<prefix>i`` is positive."""
    sig = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"{prefix}{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sig.cast("long")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: each word hashes to a 32-bit value
    (first 8 hex chars of md5); bit i of the signature is 1 iff the sum of
    ±1 contributions over all words is positive.  Pure Catalyst: explode +
    bitwise agg — the signature is the grouping key for near-dup candidate
    buckets at scale (Hamming-adjacent bands)."""
    words = _doc_words(spark, sf_dir).select("doc_id", _md5_u32("w").alias("h"))
    sums = words.groupBy("doc_id").agg(*_bit_votes(F.col("h"), "b"))
    return sums.select("doc_id", _bit_pack("b").alias("simhash"))


# --- dedup: SimHash Hamming-band near-dup pairs --------------------------------------------
SIMHASH_BANDS = 4  # 4 bands x 8 bits over the 32-bit signature
# <=2 differing bits: the hamming histogram of band candidates at sf0.01 is
# 5/28/141 pairs at h=0/1/2 then explodes (551 at 3, 3569 at 6) — the knee
# separates near-dups from background collisions of short docs
SIMHASH_HAMMING_MAX = 2


def _band_join(sigs: DataFrame, bands: list) -> DataFrame:
    """Candidate pairs for Hamming verification: every (doc_id, signature
    columns...) row of ``sigs`` posexplodes over the band values in
    ``bands``, and docs agreeing on ANY band pair up through an equi-join
    on (band_id, band_val) — a shuffle on a short key, never an O(n²)
    cross join.  Sides are aliased ``a`` and ``b``, with a.doc_id <
    b.doc_id; a pair agreeing on several bands appears once per band."""
    banded = sigs.select(
        *sigs.columns, F.posexplode(F.array(*bands)).alias("band_id", "band_val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )


def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, the LSH-banded scale path: the 32-bit
    signature splits into 4 x 8-bit bands; docs agreeing on ANY band become
    candidate pairs (equi-join on (band_id, band_val) — a shuffle on a
    1-byte key, never an O(n²) cross join); exact Hamming distance
    (bit_count of xor) verifies only the candidates.  Mirrors
    q_minhash_neardup_pairs' two-stage shape; by the pigeonhole principle
    any pair with fewer than 4 differing bits agrees on at least one of the
    4 bands, so at the hamming <= 2 acceptance threshold the banding has NO
    recall loss."""
    sig = F.col("simhash")
    bands = [F.shiftright(sig, 8 * k).bitwiseAND(F.lit(255)) for k in range(SIMHASH_BANDS)]
    cand = (
        _band_join(q_simhash(spark, sf_dir), bands)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()  # a pair may agree on several bands
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)


# --- dedup: 64-bit SimHash (scale-hardened band width) --------------------------------------
SIMHASH64_HAMMING_MAX = 3  # pigeonhole: <=3 differing bits ⇒ some band agrees


def _simhash64_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig_hi, sig_lo) — 64-bit SimHash as two unsigned 32-bit
    halves.  Two halves, not one long: +(1<<63) overflows a signed BIGINT
    literal in DuckDB (the oracle engine), and every bit test / band
    extraction / xor-popcount works identically on the halves, so the
    representation is sign-safe in both engines by construction."""
    # 64-bit word hash = first 16 hex chars of md5, split into two 32-bit
    # halves (hi = hex chars 1-8, lo = 9-16): both parse to positive longs
    hi = _md5_u32("w")
    lo = F.conv(F.substring(F.md5("w"), 9, 8), 16, 10).cast("long")
    words = _doc_words(spark, sf_dir).select("doc_id", hi.alias("hh"), lo.alias("hl"))
    sums = words.groupBy("doc_id").agg(
        *_bit_votes(F.col("hh"), "bh"), *_bit_votes(F.col("hl"), "bl")
    )
    return sums.select(
        "doc_id", _bit_pack("bh").alias("sig_hi"), _bit_pack("bl").alias("sig_lo")
    )


def q_simhash64_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs — the width the 32-bit
    q_simhash_neardup_pairs docstring flags as too coarse past ~10^8 docs.
    4 x 16-bit bands (Manku et al., WWW'07 shape): docs agreeing on ANY
    band become candidates via an equi-join on (band_id, band_val); exact
    Hamming distance (bit_count of xor, summed over the two 32-bit halves)
    verifies candidates only.  Pigeonhole: a pair within hamming <= 3
    agrees on >= 1 of the 4 bands, so banding has ZERO recall loss at this
    threshold.

    Bucket-population math: a 16-bit band has 65,536 distinct values, so a
    uniform corpus puts ~n/2^16 docs in a bucket — at 10^9 docs that is
    ~15k docs/bucket and ~10^8 within-bucket comparisons per band value
    (vs ~4M docs/bucket at the 8-bit width: 256x cheaper here, but still
    quadratic-in-bucket).  Past ~10^9 docs, widen further: more/wider
    bands over a 128-bit signature, or Manku's sorted permuted-table
    prefix scan, which replaces the equi-join with a range scan."""
    bands = [
        F.col("sig_lo").bitwiseAND(F.lit(65535)),
        F.shiftright(F.col("sig_lo"), 16).bitwiseAND(F.lit(65535)),
        F.col("sig_hi").bitwiseAND(F.lit(65535)),
        F.shiftright(F.col("sig_hi"), 16).bitwiseAND(F.lit(65535)),
    ]
    cand = (
        _band_join(_simhash64_signatures(spark, sf_dir), bands)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig_hi").alias("hi_a"),
            F.col("a.sig_lo").alias("lo_a"),
            F.col("b.sig_hi").alias("hi_b"),
            F.col("b.sig_lo").alias("lo_b"),
        )
        .distinct()  # a pair may agree on several bands
    )
    hamming = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= SIMHASH64_HAMMING_MAX)


# --- similarity: embedding cosine near-dup pairs -------------------------------------------
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-ONLY brute-force baseline: embedding-cosine near-duplicate pairs
    over a bounded id range.  O(n²) by design — it measures the recall of
    the scalable ANN twins (`q_ann_probe_topk`, `q_ivfpq_topk`).  Fenced by
    _bruteforce_eval_guard: never run it unbounded."""
    emb = _bruteforce_eval_guard(
        _embeddings(spark, sf_dir).filter(F.col("vec_id") < 150),
        "q_embedding_neardup",
        "q_ann_probe_topk / q_ivfpq_topk",
    )
    a, b = emb.alias("a"), emb.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
    return pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(_cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= 0.35)


# --- similarity: random-hyperplane LSH bucketing (ANN scale path) ---------------------------
LSH_PLANES = 8
EMB_DIM = 64


def _hyperplane(k: int) -> list[float]:
    """Deterministic ±1 hyperplane from md5 parity — identical constant on
    the Spark and DuckDB sides."""
    import hashlib

    comps = []
    for i in range(EMB_DIM):
        digest = hashlib.md5(f"hp{k}:{i}".encode()).hexdigest()
        comps.append(1.0 if int(digest[0], 16) < 8 else -1.0)
    return comps


def _lsh_bucket_expr(v):
    """8-bit sign-random-projection bucket of an embedding column."""
    bucket = None
    for k in range(LSH_PLANES):
        plane = F.array(*[F.lit(c) for c in _hyperplane(k)])
        bit = F.when(F.round(_dot(v, plane), 6) > 0, F.lit(1 << k)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH: 8 deterministic ±1 hyperplanes hash each
    embedding to an 8-bit bucket; the bucket histogram is the candidate
    structure that replaces the O(n²) cosine cross join at scale (probe the
    query's bucket ± Hamming-1 neighbours — q_ann_probe_topk)."""
    emb = _embeddings(spark, sf_dir)
    return (
        emb.select(_lsh_bucket_expr(F.col("v")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def q_ann_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN last mile: top-10 cosine neighbours of the vec_id=0 query
    restricted to its LSH bucket ± Hamming-1 (the 9 buckets differing in at
    most one hyperplane sign).  Exact scoring touches only the probed
    candidates — at scale that is |table| / 2^planes * 9 vectors instead of
    the whole table, and the probe set is an equi-ish join on a 1-byte
    bucket key.  Tie-break on vec_id; the brute-force q_cosine_topk is the
    paired correctness baseline (its top-k restricted to the probed set
    must equal this — the DuckDB oracle states exactly that)."""
    emb = _embeddings(spark, sf_dir)
    bucketed = emb.select("vec_id", "v", _lsh_bucket_expr(F.col("v")).alias("bucket"))
    qrow = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("q"), F.col("bucket").alias("qbucket")
    )
    cand = bucketed.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qrow)).filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= 1
    )
    return _cosine_topk(cand)


# --- text analysis: language-ID heuristic ----------------------------------------------------
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class language heuristic: ratio of [a-z ] chars >= 0.95 →
    'en', else 'other'; checked against the table's lang label."""
    docs = load_table(spark, sf_dir, "documents")
    ratio = F.length(F.regexp_replace(F.col("text"), "[^a-z ]", "")) / F.length("text")
    guess = F.when(ratio >= 0.95, F.lit("en")).otherwise(F.lit("other"))
    return docs.select(
        "doc_id",
        guess.alias("lang_guess"),
        (guess == F.col("lang")).cast("int").alias("label_match"),
    )


# --- text analysis: BPE-ish token counting ----------------------------------------------------
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    ([a-z]+ | digit runs | any other non-space char)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|\S"), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


# --- text analysis: rolling-hash document fingerprint ------------------------------------------
FP_MOD = 2147483647  # 2^31 - 1


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over the word stream
    (acc = (acc*31 + hash32(word)) mod 2^31-1) — an order-sensitive content
    fingerprint, computed with a native F.aggregate fold (no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    fp = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 31 + _md5_u32(w)) % F.lit(FP_MOD),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# --- similarity: IVF-style inverted-list assignment (ANN alternative) --------------------------
IVF_K = 8


def _l2sq(x, y):
    """Squared L2 distance of two array<double> columns, rounded to 6dp
    so rankings by it reproduce in ANSI SQL."""
    return F.round(
        F.aggregate(
            F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ),
        6,
    )


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """(centroid_id, c): the IVF codebook, the first IVF_K vectors."""
    return emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("c")
    )


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: centroids = the first IVF_K vectors
    (deterministic stand-in for a k-means codebook); every vector is
    assigned to its nearest centroid by L2 (tie-break on centroid id).
    The (centroid_id → vectors) inverted lists are the probe structure that
    bounds ANN search to one list instead of the full table at scale."""
    emb = _embeddings(spark, sf_dir)
    scored = emb.crossJoin(F.broadcast(_ivf_centroids(emb))).select(
        "vec_id", "centroid_id", _l2sq(F.col("v"), F.col("c")).alias("l2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("l2"), F.asc("centroid_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "centroid_id", "l2")
    )


def q_ivf_list_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list histogram — the balance check for the IVF codebook."""
    return (
        q_ivf_assign(spark, sf_dir)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe (nprobe=1): top-10 cosine neighbours of the vec_id=0 query
    scanning ONLY its own inverted list — the complementary ANN last mile
    to q_ann_probe_topk.  At scale the probed work is |table|/K vectors
    reached through a broadcast of the (tiny) centroid assignment of the
    query; exact cosine runs on the single list."""
    assign = q_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    emb = _embeddings(spark, sf_dir)
    keyed = emb.join(assign, "vec_id")
    q_list = keyed.filter(F.col("vec_id") == 0).select(
        F.col("centroid_id").alias("q_centroid"), F.col("v").alias("q")
    )
    cand = keyed.filter(F.col("vec_id") != 0).join(
        F.broadcast(q_list), F.col("centroid_id") == F.col("q_centroid")
    )
    return _cosine_topk(cand)


def q_ivf_recenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) iteration over the IVF assignment: each
    centroid moves to the dimension-wise mean of its assigned vectors —
    the codebook-training step that turns the deterministic seed centroids
    into a real quantizer.  Shape at scale: posexplode to (centroid, dim,
    val) rows then ONE partial-aggregated groupBy — never a collect of
    vectors; the output is K x dim rows (tiny) regardless of table size.
    Iterating = re-running assign with the new codebook (the driver-loop
    pattern q_dedup_groups documents)."""
    assign = q_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    emb = _embeddings(spark, sf_dir)
    dims = emb.join(assign, "vec_id").select(
        "centroid_id", F.posexplode("v").alias("dim", "val")
    )
    return dims.groupBy("centroid_id", "dim").agg(
        F.round(F.avg("val"), 6).alias("c")
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction — events carry a JSON ``props`` string (the
    schema-on-read sidecar every telemetry feed has): extract the typed
    field natively (get_json_object, no UDF) and aggregate it per event
    type.  At scale the extraction runs inside whole-stage codegen on the
    scan output; only the grouped aggregates shuffle."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


def q_ivf_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation: per IVF centroid, the majority
    ``label`` among assigned vectors and its purity (majority count /
    list size) — the eval a pipeline runs after every codebook-training
    step (q_ivf_recenter).  Ties break on the lowest label; all
    aggregates are partial-agg friendly and the output is K rows."""
    assign = q_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    counts = (
        emb.join(assign, "vec_id")
        .groupBy("centroid_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("centroid_id").orderBy(F.desc("n"), F.asc("label"))
    totals = counts.groupBy("centroid_id").agg(F.sum("n").alias("n_vecs"))
    major = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("centroid_id", F.col("label").alias("majority_label"), F.col("n"))
    )
    return major.join(totals, "centroid_id").select(
        "centroid_id",
        "majority_label",
        "n_vecs",
        F.round(F.col("n") / F.col("n_vecs"), 4).alias("purity"),
    )


# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup = cluster
# the embedding space, then pairwise-compare ONLY within a cluster.
SEMDEDUP_COS_MIN = 0.35
# Hard bound on the per-cluster pairwise term: clusters larger than this
# are deterministically sub-split (vec_id mod ceil(n/max)) before the
# within-cluster join, so one degenerate/skewed codebook cell can never
# become an accidental all-pairs — the guard q_semantic_dedup's docstring
# promises (round-4 verdict item 4; same philosophy as
# _bruteforce_eval_guard, but degrading recall instead of raising, since
# semantic dedup is a production path, not an eval baseline).
SEMDEDUP_MAX_CLUSTER = 4096


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embedding column:
    every vector joins its IVF cluster (broadcast codebook, q_ivf_assign's
    assignment), cosine similarity is computed ONLY between same-cluster
    pairs (equi-join on centroid_id — never an all-pairs θ-join), and a
    vector is DROPPED iff some same-cluster vector with a smaller vec_id
    is within SEMDEDUP_COS_MIN cosine — a deterministic keep rule (the
    paper keeps one exemplar per ε-ball; lowest-id is the
    engine-reproducible tie-break).  Output: every vector with its cluster
    and keep flag.

    Scale shape: the only wide stages are the assignment window and one
    hash shuffle on centroid_id; the quadratic term is per-cluster, and
    SemDeDup's own recipe scales k with n so expected cluster size stays
    bounded (the paper uses ~50k clusters for LAION-440M).  A degenerate
    codebook can still produce one huge cluster, so clusters above
    SEMDEDUP_MAX_CLUSTER are deterministically sub-split (``vec_id mod
    ceil(n_cluster / max)``) and pairs are compared only within a
    (centroid_id, sub_id) cell: worst-case pairwise cost is bounded by
    max·n per cluster instead of n², at the price of missing cross-split
    near-dups inside an oversized cluster — the documented trade the
    guard makes explicit (the DuckDB oracle mirrors the same formula, so
    correctness checks hold in both regimes)."""
    emb = _embeddings(spark, sf_dir)
    assign = q_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    n_cluster = F.count(F.lit(1)).over(Window.partitionBy("centroid_id"))
    n_subs = F.ceil(n_cluster / F.lit(float(SEMDEDUP_MAX_CLUSTER))).cast("long")
    m = (
        emb.join(assign, "vec_id")
        .withColumn("sub_id", F.pmod(F.col("vec_id"), n_subs))
    )
    a, b = m.alias("a"), m.alias("b")
    cos = F.round(_cosine(F.col("a.v"), F.col("b.v")), 6)
    dropped = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.sub_id") == F.col("b.sub_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("b.vec_id").alias("vec_id"), cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= SEMDEDUP_COS_MIN)
        .select("vec_id")
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    # no broadcast hint: the drop list grows with the near-dup mass, so
    # the join strategy is left to its size (AQE broadcasts it when small)
    return (
        m.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.when(F.col("dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("keep"),
        )
    )


# hashed linear classifier: vocabulary-free model serving (the fastText/
# CCNet quality-classifier shape) — words hash to CLS_BUCKETS weight slots
CLS_BUCKETS = 256
CLS_HASH_MULT = 2654435761  # Knuth multiplicative constant


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring via the hashing trick — the serving
    path of a fastText/logistic quality classifier (the GPT-3/CCNet
    pipeline stage): each word hashes to one of CLS_BUCKETS weight slots,
    the doc's score is the sum of its words' weights, and the keep
    decision thresholds the sigmoid.  The committed "weights" are a
    deterministic function of the bucket id (the repo's scorer-table
    convention: a real training run would broadcast a learned table; the
    EXECUTION shape — hash, lookup, map-side sum, no vocabulary object —
    is identical and is what matters at scale).

    Exactness: per-word weights are INTEGERS (md5 bucket → Knuth-mix →
    [-500, 499]), so the per-doc sum is order-free exact in any engine;
    the sigmoid is applied once to the exact integer ratio.  Entirely
    row-local (higher-order array functions inside the scan stage):
    model inference at 100 TB costs exactly one table scan, no shuffle,
    no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    bucket = lambda w: F.pmod(_md5_u32(w), F.lit(CLS_BUCKETS))  # noqa: E731
    weight = lambda w: F.pmod(  # noqa: E731
        bucket(w) * F.lit(CLS_HASH_MULT), F.lit(1000)
    ) - F.lit(500)
    score = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + weight(w)
    )
    n_words = F.size(words)
    prob = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-score / (F.lit(500.0) * n_words))), 6
    )
    return docs.filter(n_words > 0).select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        score.alias("score_sum"),
        prob.alias("prob"),
        (score >= 0).cast("int").alias("keep"),
    )


QUALITY_MIN_TOKENS = 5
QUALITY_MAX_STOPWORD_RATIO = 0.5
QUALITY_MIN_CHARS, QUALITY_MAX_CHARS = 20, 2000


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DECISION the quality signals exist for: per document,
    keep/drop plus the first failing rule (too_short / too_long /
    too_few_tokens / stopword_heavy / non_english), all native
    expressions — the filter a training-data pipeline pushes down to the
    scan before any expensive stage."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words)
    stop_ratio = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))) / n_tokens
    lang_ratio = F.length(F.regexp_replace(F.col("text"), "[^a-z ]", "")) / F.length(
        "text"
    )
    reason = (
        F.when(F.length("text") < QUALITY_MIN_CHARS, F.lit("too_short"))
        .when(F.length("text") > QUALITY_MAX_CHARS, F.lit("too_long"))
        .when(n_tokens < QUALITY_MIN_TOKENS, F.lit("too_few_tokens"))
        .when(stop_ratio > QUALITY_MAX_STOPWORD_RATIO, F.lit("stopword_heavy"))
        .when(lang_ratio < 0.95, F.lit("non_english"))
        .otherwise(F.lit("keep"))
    )
    return docs.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "keep").cast("int").alias("keep"),
    )


IVF_NPROBE = 3


def _ivf_probe(emb: DataFrame, qvec: DataFrame) -> DataFrame:
    """(centroid_id) of the IVF_NPROBE centroids nearest the one-row query
    frame (q) by rounded L2, ties to the lower id (tiny: K rows)."""
    return (
        _ivf_centroids(emb)
        .crossJoin(F.broadcast(qvec))
        .select("centroid_id", _l2sq(F.col("q"), F.col("c")).alias("l2"))
        .orderBy(F.asc("l2"), F.asc("centroid_id"))
        .limit(IVF_NPROBE)
        .select("centroid_id")
    )


def q_ivf_probe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multi-probe (nprobe=3) + measured recall@10: probe the query's
    3 nearest centroids' inverted lists, take the exact-cosine top-10 of
    the probed candidates, and report what fraction of the brute-force
    top-10 (q_cosine_topk) the probe recovered.  Cost/recall tradeoff: the
    probe scans ~|table| * nprobe / K vectors (3/8 of the table at this
    toy K; at a real K of 4096 with nprobe 32, <1% of the table), and
    recall@10 is the dial — nprobe=K degenerates to exact brute force at
    recall 1.0.  Both top-10s use the same (cos desc, vec_id) tie-break,
    so the recall number is deterministic."""
    emb = _embeddings(spark, sf_dir)
    assign = q_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    cand = (
        emb.join(assign, "vec_id")
        .join(F.broadcast(_ivf_probe(emb, qvec)), "centroid_id")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
    )
    probe_topk = _cosine_topk(cand).select("vec_id")
    brute_topk = q_cosine_topk(spark, sf_dir).select("vec_id")
    # recall as a declarative aggregate — no driver-side action
    return (
        probe_topk.join(brute_topk, "vec_id")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .select(
            F.lit(IVF_NPROBE).alias("nprobe"),
            F.lit(10).alias("k"),
            F.col("_hits").cast("int").alias("n_hits"),
            F.round(F.col("_hits") / 10.0, 4).alias("recall"),
        )
    )


# --- extraction-stage analogs (S5/driver-mandated extraction) --------------------------
def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content HTML extraction exercised through the REAL kernel: each
    document is wrapped in the generator's boilerplate template (nav,
    styled head, link-dense footer), then the DOM text/link-density
    extractor must recover the body byte-for-byte — so the DuckDB oracle
    is simply the identity on ``text``."""
    from ..operators.extract import with_extraction
    from ..sources.transcripts import _HTML_PREFIX, _HTML_SUFFIX

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit(_HTML_PREFIX), F.col("text"), F.lit(_HTML_SUFFIX)).alias("text"),
    )
    return with_extraction(docs, out_col="text_main").select("doc_id", "text_main")


def q_layout_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF/layout extraction through the real XY-cut kernel: documents are
    wrapped in the %LAYOUT template (repeated running header, page-number
    footers, body box), and reading-order extraction with decoration
    stripping must recover the body exactly (oracle = identity)."""
    from ..operators.extract import with_extraction
    from ..sources.transcripts import _LAYOUT_PREFIX, _LAYOUT_SUFFIX

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(_LAYOUT_PREFIX), F.col("text"), F.lit(_LAYOUT_SUFFIX)
        ).alias("text"),
    )
    return with_extraction(docs, out_col="text_main").select("doc_id", "text_main")


def q_conversation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-LEVEL near-dup detection — the LLM-pipeline user dedups
    whole conversations, not single turns.  Shape: (1) reassemble each
    user's event stream in stable (ts, event_id) order with the two-stage
    SALTED aggregation (operators/reassemble.py — a hot user cannot pin one
    reducer); (2) shingle the reassembled sequence into 3-grams;
    (3) 4-seed MinHash full-signature banding proposes candidate pairs
    (equi-join on the band key); (4) exact Jaccard over the shingle sets
    verifies candidates at >= 0.3.  No stage is all-pairs; conversations
    with near-identical event flows land in one bucket by construction.
    UNBOUNDED input — the full events table: banding bounds the candidate
    work (full-signature band key ⇒ only near-identical sequences share a
    bucket), so no user_id cap is needed at any scale."""
    seqs = _event_sequences(load_table(spark, sf_dir, "events"))
    # inline explode, as in _doc_grams
    gram_rows = seqs.select(
        "user_id", F.explode(_word_ngrams(F.col("events"))).alias("g")
    )
    keyed = _minhash_band(gram_rows, "user_id")
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.user_id") < F.col("b.user_id")),
    )
    return pairs.select(
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        _jaccard(F.col("a.grams"), F.col("b.grams")).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.3)


# --- sessionization: gap-based session assignment --------------------------------
SESSION_GAP_SEC = 21600  # 6 hours


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization — the batch form of the streaming
    session-window operator (streaming/stateful.py): an event starts a new
    session when it follows the user's previous event by more than
    SESSION_GAP_SEC.  Pure window functions (lag + running sum), one
    shuffle on user_id; at 100TB the skew story is the same as turn
    reassembly (hash on a high-cardinality user key; the windows are
    per-user linear scans)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval-in-seconds, NOT epoch: ts is TIMESTAMP_NTZ, and epoch
    # conversion would drag the session timezone into the semantics
    gap = (F.col("ts") - F.lag("ts").over(w)).cast("long")
    new_sess = F.when(gap.isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(new_sess).over(run).cast("long").alias("session_idx"),
    )


# --- time windows: tumbling daily aggregates --------------------------------------
def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event type — the batch analog
    of streaming/stream.streaming_metrics' windowed aggregation (native
    date_trunc grouping; map-side partial agg applies)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# --- dedup: connected-component group assignment ------------------------------------
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUP assignment: connected components over the
    MinHash-banded near-dup pair graph (q_minhash_neardup_pairs), each doc
    labeled with the smallest doc_id reachable through near-dup relations
    — what an LLM-data pipeline actually keeps/drops after pair detection.

    Iterative label propagation: labels start as own id; each round every
    node takes the min of its label and its neighbours' labels; stop at
    fixpoint.  Rounds needed = graph diameter (near-dup components are
    tiny cliques, so 2-3 rounds); each round is one broadcast-ready
    equi-join + groupBy on the PAIR set (thousands of rows per billion
    docs), never on the corpus — the driver-side loop-with-count is the
    documented pattern for iterative algorithms over converging frames.

    ``loop_partitions`` bounds the iteration frames' partition count: the
    pair graph is OUTPUT-bounded (LSH verify already ran), so the session
    shuffle width (sized for corpus scans) would spend more on task
    scheduling than on data — measured 2.3x loop speedup at 4 partitions
    vs the session's 32 on sf0.1.  Raise it when the verified pair set is
    itself huge."""
    loop_partitions = 4
    pairs = q_minhash_neardup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .repartition(loop_partitions)
        .persist()
    )
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("group_id", F.col("doc_id"))
        .repartition(loop_partitions)
        .persist()
    )
    prev_cached = labels
    for _ in range(20):  # diameter bound; near-dup cliques converge in 2-3
        neigh = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(edges.doc_a.alias("doc_id"))
            .agg(F.min("group_id").alias("neigh_min"))
        )
        # one join per round: the convergence check (any neigh_min below the
        # current label?) reads the same joined frame the update projects
        # from, so no second labels-vs-new-labels compare join is needed
        joined = (
            labels.join(neigh, "doc_id", "left")
            .repartition(loop_partitions)
            .persist()
        )
        changed = joined.filter(F.col("neigh_min") < F.col("group_id")).count()
        labels = joined.select(
            "doc_id",
            F.least(
                F.col("group_id"), F.coalesce("neigh_min", F.col("group_id"))
            ).alias("group_id"),
        )
        prev_cached.unpersist()
        prev_cached = joined
        if changed == 0:
            break
    edges.unpersist()
    return labels.select("doc_id", F.col("group_id").cast("long"))


def q_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full LSH dedup path: minhash band buckets propose candidate pairs
    (equi-join on band_key — a shuffle on a short hash key), exact n-gram
    Jaccard verifies only those candidates.  This is the two-stage shape
    that replaces q_ngram_jaccard's O(n²) cross join at scale: the
    all-pairs work never happens, and skewed bucket sizes are bounded by
    the banding scheme (full 4-hash signature ⇒ only near-identical docs
    share a bucket).

    Plan shape: grams explode inline and one groupBy builds signature and
    gram set (_doc_grams, _minhash_band)."""
    keyed = _minhash_band(_doc_grams(spark, sf_dir), "doc_id")
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        _jaccard(F.col("a.grams"), F.col("b.grams")).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.30)


# --- training-data assembly: token-budget sequence packing -------------------------
PACK_BUDGET_TOKENS = 512


PACK_SUBSHARDS = 4


def _pack_layout(d: DataFrame) -> DataFrame:
    """Shared packing layout for q_pack_sequences and q_curation_pipeline:
    running token sum per (source, subshard), chunked into
    PACK_BUDGET_TOKENS windows.

    The subshard is a DETERMINISTIC md5 bucket of doc_id (the
    q_stratified_sample gate idiom), so a hot source never serializes onto
    one reducer: each source splits into PACK_SUBSHARDS independent
    training streams regardless of cluster layout, and pack membership is
    a pure function of the data.  Input: (doc_id, source, n_tokens).
    """
    subshard = F.pmod(_md5_u32(F.col("doc_id").cast("string")), F.lit(PACK_SUBSHARDS))
    d = d.withColumn("subshard", subshard)
    w = Window.partitionBy("source", "subshard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return d.select(
        "doc_id",
        "source",
        "subshard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / F.lit(PACK_BUDGET_TOKENS))
        .cast("long")
        .alias("pack_id"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are laid out in
    deterministic (doc_id) order within each (source, subshard) stream and
    split into PACK_BUDGET_TOKENS-sized context windows; a document belongs
    to the pack its first token lands in — the standard pretraining packing
    shape.  Pure window functions (running token sum per stream), one
    shuffle on the stream key.  Packing is per-stream BY DESIGN: streams
    are independent, so no global (single-reducer) ordering is ever needed
    — and the md5 subshard (see _pack_layout) caps any single source's
    window at 1/PACK_SUBSHARDS of its rows, so a corpus with ~20 huge
    sources still fans out to 20×PACK_SUBSHARDS parallel reducers at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    return _pack_layout(docs.select("doc_id", "source", n_tokens.alias("n_tokens")))


# --- training-data assembly: deterministic stratified sampling ---------------------
SAMPLE_RATE_EN, SAMPLE_RATE_OTHER = 50, 20  # percent


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language downsampling with a DETERMINISTIC hash gate: a doc is
    kept iff md5(doc_id) mod 100 falls under its stratum's rate (en 50%,
    other languages 20%).  No rand(), no sampleBy: the same doc is kept
    in every run and on every cluster layout, the decision is a pure
    row-local expression (no shuffle at all — Catalyst keeps it in the
    scan stage), and changing a stratum's rate only moves the threshold,
    keeping the retained set nested (rate 20 ⊂ rate 50)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(_md5_u32(F.col("doc_id").cast("string")), F.lit(100))
    rate = F.when(F.col("lang") == "en", F.lit(SAMPLE_RATE_EN)).otherwise(
        F.lit(SAMPLE_RATE_OTHER)
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


# --- text analysis: per-document TF-IDF top terms ----------------------------------
TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K terms per document by TF-IDF (tf * ln(N/df)).  The document
    frequency table is vocabulary-sized — tiny relative to the corpus at
    any scale — so it broadcasts; the per-doc ranking is a window over
    the (doc, term) aggregate.  Ordering uses the ROUNDED score (ties
    broken by term) so ranks are reproducible across engines/libm."""
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(win).cast("long"))
        .filter(F.col("rk") <= TFIDF_TOP_K)
    )


# --- training-data hygiene: benchmark decontamination ------------------------------
DECON_NGRAM = 5
DECON_EVAL_SOURCE = "src0"


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word-5-gram with the held-out evaluation set (source == src0).  The
    eval gram set is distinct'd and BROADCAST — eval suites are tiny
    relative to a 100TB corpus — so the membership test is a map-side
    hash probe on the training gram stream; no corpus-vs-corpus shuffle
    exists in the plan.  Grams are exploded inline (see _doc_grams on
    alias-then-explode)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    is_eval = F.col("source") == DECON_EVAL_SOURCE
    eval_grams = (
        docs.filter(is_eval)
        .select(
            F.explode(_word_ngrams(F.split("text", " "), n=DECON_NGRAM)).alias("g")
        )
        .distinct()
    )
    train_grams = docs.filter(~is_eval).select(
        "doc_id", F.explode(_word_ngrams(F.split("text", " "), n=DECON_NGRAM)).alias("g")
    )
    shared = (
        train_grams.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared"))
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared_grams"),
            (F.coalesce("n_shared", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


# --- dedup: representative selection per near-dup group ----------------------------
def q_group_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEEP decision after near-dup grouping: within each connected
    component (q_dedup_groups), keep the longest document (token count,
    ties to the smallest doc_id) and drop the rest — what a pipeline
    actually writes back after dedup.  The label set is pair-graph-sized
    (output-bounded, tiny vs the corpus), so the quality join broadcasts
    and the per-group ranking windows over a frame of near-dup members
    only."""
    labels = q_dedup_groups(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    j = labels.join(docs, "doc_id")
    win = Window.partitionBy("group_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return j.select(
        "doc_id",
        "group_id",
        "n_tokens",
        (F.row_number().over(win) == 1).cast("int").alias("keep"),
    )


def _word_ngrams_all(words, n: int):
    """All word n-grams WITH multiplicity (no array_distinct) — the shape
    repetition analysis needs; `_word_ngrams` dedups for set-similarity."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


# --- training-data hygiene: intra-document repetition (Gopher-style) ---------------
REPEAT_NGRAM = 3
REPEAT_MAX_DUP_FRAC = 0.20


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signal (the Gopher/MassiveText duplicate
    n-gram rule): per document, the fraction of word-3-gram occurrences
    that are repeats of an earlier gram (1 - distinct/total), the hottest
    gram's occurrence count, and the keep decision dup_frac <=
    REPEAT_MAX_DUP_FRAC.  Repetition is a property of ONE row, so the
    whole computation is row-local array algebra inside the scan stage —
    no explode, no shuffle, nothing keyed — and the plan stays a single
    WholeStageCodegen map at any corpus size (the per-doc distinct×total
    gram comparison is bounded by document length, i.e. O(len²) CPU on
    the longest document, not a corpus-wide (doc, gram) aggregation)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    grams = _word_ngrams_all(words, REPEAT_NGRAM)
    d = docs.filter(F.size(words) >= REPEAT_NGRAM).select(
        "doc_id", grams.alias("gs")
    )
    n_grams = F.size("gs").cast("long")
    n_distinct = F.size(F.array_distinct("gs")).cast("long")
    max_cnt = F.array_max(
        F.transform(
            F.array_distinct("gs"),
            lambda g: F.size(F.filter("gs", lambda y: y == g)),
        )
    ).cast("long")
    dup_frac = F.round(F.lit(1.0) - n_distinct / n_grams, 4)
    return d.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        max_cnt.alias("max_gram_count"),
        dup_frac.alias("dup_frac"),
        (dup_frac <= REPEAT_MAX_DUP_FRAC).cast("int").alias("keep"),
    )


# --- training-data hygiene: PII/number scrubbing -----------------------------------
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub/normalize free-form payloads before they enter a training
    set: mask every digit run as '<num>', lowercase, and collapse
    whitespace — the number-normalization half of a PII scrub pass (the
    regex battery extends to emails/phones the same way).  Everything is
    native `regexp_replace`/`lower` inside WholeStageCodegen; the pass is
    embarrassingly parallel (no shuffle at any scale).  Emits old/new
    length so the redaction volume is auditable."""
    ev = load_table(spark, sf_dir, "events")
    scrubbed = F.regexp_replace(
        F.lower(F.regexp_replace("props", "[0-9]+", "<num>")), "\\s+", " "
    )
    return ev.select(
        "event_id",
        scrubbed.alias("scrubbed"),
        F.length("props").cast("long").alias("len_raw"),
        F.length(scrubbed).cast("long").alias("len_scrubbed"),
    )


# --- tokenizer training: BPE merge-candidate pair counts ---------------------------
BPE_PAIR_TOP_K = 50
BPE_PAIR_MIN_COUNT = 2


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of one BPE/WordPiece merge round: corpus-wide
    frequencies of ADJACENT symbol pairs (here word bigrams WITH
    multiplicity), ranked to surface the next merge candidates.  The
    aggregate is vocabulary^2-bounded — corpus-size-independent — and
    map-side-combines before its single shuffle; the HAVING floor prunes
    the long tail before the global top-K rank, which therefore orders a
    small aggregated table, not the corpus.  Pairs travel as (w1, w2)
    STRUCTS until after the aggregation — the display string is built
    for the ~vocab² surviving rows only, not once per corpus position
    (4.4x at sf0.1); (w1 ASC, w2 ASC) ties equal 'pair' ASC because the
    separator sorts below every word character."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(ws, 1, F.size(ws) - 1), F.slice(ws, 2, F.size(ws) - 1)
            )
        ).alias("p")
    )
    counted = (
        pairs.groupBy(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= BPE_PAIR_MIN_COUNT)
    )
    win = Window.orderBy(F.col("cnt").desc(), F.col("w1").asc(), F.col("w2").asc())
    return (
        counted.withColumn("rk", F.row_number().over(win).cast("long"))
        .filter(F.col("rk") <= BPE_PAIR_TOP_K)
        .select(F.concat_ws(" ", "w1", "w2").alias("pair"), "cnt", "rk")
    )


# --- training-data assembly: domain-mixture resampling -----------------------------
MIX_TARGETS = {"src0": 0.30, "src1": 0.20}  # remaining mass spread uniformly


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: downsample each source toward a target
    corpus share (DoReMi-style reweighting, deterministic).  Per-source
    keep rate = min(1, target_share * N_total / n_source) — computed from
    a per-source count table that is sources-cardinality-sized and
    BROADCAST; the keep decision is the same md5 gate as
    q_stratified_sample (row-local, reproducible across runs and cluster
    layouts, nested under rate changes).  Upweighting past the available
    data caps at 1 and is visible in the emitted keep_rate."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    share = F.when(
        F.col("source") == "src0", F.lit(MIX_TARGETS["src0"])
    ).when(F.col("source") == "src1", F.lit(MIX_TARGETS["src1"])).otherwise(
        F.lit((1.0 - sum(MIX_TARGETS.values())) / 18.0)
    )
    rates = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "source",
            F.round(
                F.least(
                    F.lit(1.0), share * F.col("n_total") / F.col("n_src")
                ),
                6,
            ).alias("keep_rate"),
        )
    )
    bucket = F.pmod(_md5_u32(F.col("doc_id").cast("string")), F.lit(1000000))
    return (
        docs.join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "keep_rate",
            (bucket < F.floor(F.col("keep_rate") * 1000000).cast("long"))
            .cast("int")
            .alias("keep"),
        )
    )


# --- temporal joins: as-of (point-in-time) join ------------------------------------
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — attach to every purchase the user's most recent view
    at or before it (point-in-time correctness, the lookup a feature
    store / attribution pipeline needs).  Spark has no ASOF JOIN;
    the scalable recomposition is UNION + ORDERED WINDOW: tag both
    streams, sort each user's merged timeline once, and carry the last
    non-null view forward with last_value(ignoreNulls).  One shuffle
    keyed by user_id, O(n log n) per user — never the O(n·m)
    inequality join a naive formulation produces.  Views sort before
    same-timestamp purchases (tag order), and ties among views break by
    event_id so the pick is deterministic in both engines."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lit(1).alias("tag"),
        F.lit(None).cast("double").alias("v_value"),
        F.lit(None).cast("timestamp").alias("v_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("tag"),
        F.col("value").alias("v_value"),
        F.col("ts").alias("v_ts"),
    )
    merged = purchases.unionByName(views)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.select(
            "event_id",
            "user_id",
            "ts",
            "value",
            "tag",
            F.last("v_value", ignorenulls=True).over(w).alias("last_view_value"),
            F.last("v_ts", ignorenulls=True).over(w).alias("last_view_ts"),
        )
        .filter(F.col("tag") == 1)
        .drop("tag")
    )


# --- temporal joins: bounded time-range join ---------------------------------------
RANGE_JOIN_WINDOW_HOURS = 24


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join — per purchase, how many of the user's views
    fell in the preceding 24 hours.  A raw θ-join (r.ts BETWEEN l.ts-24h
    AND l.ts) is a nested-loop at any scale; the Spark-first shape is
    BIN BUCKETING: both sides key by (user_id, floor(epoch/window)), the
    left probes its own bin and the previous one (any right row within
    one window length lands in one of the two), the join is a pure
    equi-join, and the exact interval predicate filters the candidates.
    Bucket ids only gate candidate generation — the final predicate
    compares timestamps directly, so no epoch-origin/timezone assumption
    leaks into results."""
    window_s = RANGE_JOIN_WINDOW_HOURS * 3600
    ev = load_table(spark, sf_dir, "events")
    bin_of = lambda c: F.floor(F.unix_timestamp(c) / window_s)  # noqa: E731
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.explode(F.array(bin_of("ts"), bin_of("ts") - 1)).alias("bin"),
    )
    right = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        bin_of("ts").alias("r_bin"),
    )
    hits = left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("bin") == F.col("r_bin"))
        & (F.col("r_ts") < F.col("ts"))
        & (
            F.col("r_ts")
            >= F.col("ts") - F.expr(f"INTERVAL {RANGE_JOIN_WINDOW_HOURS} HOURS")
        ),
        "left",
    )
    return hits.groupBy("event_id", "user_id", "ts").agg(
        F.count("r_ts").cast("long").alias("n_views_24h")
    )


# --- dedup: incremental (new batch vs corpus index) --------------------------------
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: match an ARRIVING batch (doc_id % 10
    == 0, ~10%) against the EXISTING corpus index on MinHash band keys,
    verifying candidates with exact n-gram Jaccard — the production
    shape where each day's increment is checked against an
    already-materialized signature index instead of re-deduping the
    whole corpus.  The increment is tiny relative to the corpus, so its
    signed batch BROADCASTS and the index is probed map-side: the 100TB
    corpus is never shuffled, only scanned (and in production the index
    side is a pre-computed table, not recomputed — recomputed here so
    the query is self-contained)."""
    keyed = _minhash_band(_doc_grams(spark, sf_dir), "doc_id")
    is_new = F.col("doc_id") % 10 == 0
    index = keyed.filter(~is_new).alias("ix")
    batch = F.broadcast(keyed.filter(is_new)).alias("nb")
    cand = batch.join(index, F.col("nb.band_key") == F.col("ix.band_key"))
    return cand.select(
        F.col("nb.doc_id").alias("new_doc"),
        F.col("ix.doc_id").alias("index_doc"),
        _jaccard(F.col("nb.grams"), F.col("ix.grams")).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.30)


# --- capstone: the full curation pipeline as ONE declarative plan ------------------
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation as one composed plan: documents
    that (1) pass the quality rules, (2) share no 5-gram with the eval
    suite, and (3) are not the dropped members of a near-dup group, laid
    out into token-budget packs per source shard.  Each stage is the
    already-oracle-checked operator (q_quality_filter, q_decontaminate,
    q_group_representative, q_pack_sequences' window) — the point of this
    query is that they COMPOSE into a single Catalyst plan: quality is a
    scan-stage filter, the decontamination probe and the drop-list
    anti-join are broadcasts (eval-suite-sized and pair-graph-sized),
    and the only wide stages are the dedup machinery's own aggregations
    plus one per-shard packing window.  A user runs the whole curation
    flow as one DataFrame, and Catalyst schedules it."""
    docs = load_table(spark, sf_dir, "documents")
    q_keep = (
        q_quality_filter(spark, sf_dir)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    d_keep = (
        q_decontaminate(spark, sf_dir)
        .filter(F.col("contaminated") == 0)
        .select("doc_id")
    )
    r_drop = (
        q_group_representative(spark, sf_dir)
        .filter(F.col("keep") == 0)
        .select("doc_id")
    )
    surv = (
        docs.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .join(q_keep, "doc_id")
        .join(d_keep, "doc_id")
        .join(F.broadcast(r_drop), "doc_id", "left_anti")
    )
    return _pack_layout(surv)


# --- similarity: product-quantization codes ----------------------------------------
PQ_M = 4  # subspaces (EMB_DIM/PQ_M dims each)
PQ_K = 8  # sub-centroids per subspace


def _pq_slices(v):
    """The PQ_M contiguous subvectors of an embedding column, as an array."""
    dim_per = EMB_DIM // PQ_M
    return F.array(*[F.slice(v, m * dim_per + 1, dim_per) for m in range(PQ_M)])


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each embedding splits into PQ_M contiguous
    subvectors and each subvector is assigned to its nearest sub-centroid
    (codebook = the first PQ_K vectors' slices, the same deterministic
    stand-in q_ivf_assign uses) — compressing a vector to PQ_M small
    codes, the memory layout ANN systems pair with IVF at billion-vector
    scale (an IVF-PQ index).  The codebook is PQ_M x PQ_K subvectors —
    tiny and BROADCAST; assignment is a per-row argmin (row_number over
    (vec_id, subspace)), so the table scans once and nothing wide ever
    carries full vectors.  Emits the per-subspace quantization error so
    codebook quality is auditable."""
    emb = _embeddings(spark, sf_dir)
    slices = _pq_slices("v")
    sub = emb.select(
        "vec_id", F.posexplode(slices).alias("subspace", "sv")
    )
    cent_sub = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("code"), F.posexplode(slices).alias("subspace", "cv"))
    )
    scored = sub.join(F.broadcast(cent_sub), "subspace").select(
        "vec_id",
        F.col("subspace").cast("long").alias("subspace"),
        F.col("code").cast("long").alias("code"),
        _l2sq(F.col("sv"), F.col("cv")).alias("l2"),
    )
    w = Window.partitionBy("vec_id", "subspace").orderBy(
        F.asc("l2"), F.asc("code")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


# --- data profiling: per-source column statistics ----------------------------------
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data profile — the pre-flight stats pass a pipeline
    runs before committing a source to training: row count, length
    mean/min/max, EXACT interpolated median, token volume, and language
    cardinality.  One map-side-combined aggregation keyed by source.
    Exact `percentile` gathers each group's values on its reducer — fine
    while groups fit an executor; at 100TB swap it for
    `approx_percentile(n_chars, 0.5, 10000)` (same plan shape, bounded
    state) and keep this exact form as the small-scale oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("median_chars"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


# --- markup extraction (2): links, domains, link graph, markdown -------------------
# The extraction tier of a web-scale pipeline doesn't stop at main-content
# text: the same pages yield the LINK layer (anchor inventory, per-domain
# stats, the doc->doc graph) and a markdown rendering that preserves link
# structure for training data.  Pages are synthesized deterministically
# from `documents` (template + md5-derived absolute links), so a DuckDB
# oracle reproduces every byte; extraction itself is native regexp over
# the page string — JVM-side, scan-stage, no UDF.
LINKS_PER_DOC = 3
LINK_SITES = 97
LINK_PATHS = 1000
LINK_GRAPH_MOD = 500
_A_TAG_RE = '<a href="([^"]*)">([^<]*)</a>'


def _page_html(doc_id, text):
    """The synthetic page: boilerplate template wrapping the body plus
    LINKS_PER_DOC md5-derived absolute links (site/path deterministic in
    doc_id, reproducible in ANSI SQL via the '0x'||substr(md5(..)) cast)."""
    from ..sources.transcripts import _HTML_PREFIX, _HTML_SUFFIX

    parts = [F.lit(_HTML_PREFIX), text]
    for k in range(LINKS_PER_DOC):
        h = F.md5(F.concat(doc_id.cast("string"), F.lit(f":{k}")))
        site = F.pmod(F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(LINK_SITES))
        path = F.pmod(F.conv(F.substring(h, 5, 6), 16, 10).cast("long"), F.lit(LINK_PATHS))
        parts.append(
            F.concat(
                F.lit(' <a href="https://site-'),
                site.cast("string"),
                F.lit(".example.com/doc/"),
                path.cast("string"),
                F.lit(f'">ref-{k}</a>'),
            )
        )
    parts.append(F.lit(_HTML_SUFFIX))
    return F.concat(*parts)


def links_from_pages(
    pages: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(id, link_pos, href, anchor) from a DataFrame of page strings —
    one regexp pass per capture group, row-local, so it applies to a
    STREAMING DataFrame unchanged (tests/test_streaming.py pins the
    parity)."""
    ex = pages.select(
        id_col,
        F.regexp_extract_all(html_col, F.lit(_A_TAG_RE), 1).alias("hrefs"),
        F.regexp_extract_all(html_col, F.lit(_A_TAG_RE), 2).alias("anchors"),
    )
    z = ex.select(id_col, F.posexplode(F.arrays_zip("hrefs", "anchors")))
    return z.select(
        id_col,
        (F.col("pos") + 1).cast("long").alias("link_pos"),
        F.col("col.hrefs").alias("href"),
        F.col("col.anchors").alias("anchor"),
    )


def _pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, html) of every synthetic page."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", _page_html(F.col("doc_id"), F.col("text")).alias("html"))


def _links_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Links of every synthetic page (template nav/footer links + the
    generated absolute ones)."""
    return links_from_pages(_pages_df(spark, sf_dir))


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor inventory of the synthetic pages: per doc, the ordered
    (href, anchor-text) pairs — nav/footer template links and the three
    generated absolute links.  Pure scan-stage regexp + posexplode; the
    only wide op is none at all (row-local), so it scales with the scan."""
    return _links_df(spark, sf_dir)


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain link rollup over the extracted absolute links — the
    crawl-frontier / per-site stats pass.  Host comes from the native
    parse_url expression (JVM-side); one map-side-combined groupBy on a
    LINK_SITES-bounded key, so the shuffle is domain-cardinality-sized
    regardless of corpus size."""
    links = _links_df(spark, sf_dir).filter(F.col("href").startswith("https://"))
    host = F.parse_url(F.col("href"), F.lit("HOST"))
    return (
        links.select("doc_id", host.alias("host"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_links"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power-iteration step over the md5-derived doc->doc
    edge set (src = doc_id, dst = md5(src:k) % LINK_GRAPH_MOD, distinct,
    restricted to existing docs).  outdeg is computed by a keyed agg on
    src, contributions 1/outdeg flow along edges, and the receiving agg
    emits in_degree + rank_1 = 0.15 + 0.85 * sum(contrib) — the classic
    two-shuffle PageRank step (agg on src, agg on dst); nothing is
    broadcast because both sides are corpus-sized, and that is the right
    plan at any scale."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ks = F.array(*[F.lit(k) for k in range(LINKS_PER_DOC)])
    edges = (
        docs.select(F.col("doc_id").alias("src"), F.explode(ks).alias("k"))
        .select(
            "src",
            F.pmod(
                _md5_u32(
                    F.concat(
                        F.col("src").cast("string"), F.lit(">"), F.col("k").cast("string")
                    )
                ),
                F.lit(LINK_GRAPH_MOD),
            ).alias("dst"),
        )
        .distinct()
        .join(docs.select(F.col("doc_id").alias("dst")), "dst")
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return (
        edges.join(outdeg, "src")
        .groupBy(F.col("dst").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("in_degree"),
            F.round(0.15 + 0.85 * F.sum(1.0 / F.col("outdeg")), 6).alias("rank_1"),
        )
    )


def q_markdownify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> markdown rendering that PRESERVES link structure — the
    extraction flavor used when curation wants documents with their
    citations intact rather than bare main text.  A fixed chain of native
    regexp_replace passes: drop head, drop the nav/footer boilerplate
    blocks, rewrite anchors to [text](href), strip remaining tags, trim.
    Entirely row-local scan-stage work."""
    docs = load_table(spark, sf_dir, "documents")
    md = _page_html(F.col("doc_id"), F.col("text"))
    md = F.regexp_replace(md, "<head>.*?</head>", "")
    md = F.regexp_replace(md, "<nav[^>]*>.*?</nav>", "")
    md = F.regexp_replace(md, "<footer[^>]*>.*?</footer>", "")
    md = F.regexp_replace(md, _A_TAG_RE, "[$2]($1)")
    md = F.regexp_replace(md, "<[^>]+>", "")
    return docs.select("doc_id", F.trim(md).alias("md"))


def _noisy_url(links: DataFrame) -> DataFrame:
    """Deterministic crawl-noise fixture over the extracted links: the
    same target URL arrives with tracking query params, fragments, and
    trailing slashes, keyed by md5 parity of (doc_id, link_pos) so both
    engines rebuild the identical variants."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("doc_id").cast("string"),
                    F.col("link_pos").cast("string"),
                )
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("long")
    url = F.col("href")
    url = F.when(F.pmod(h, 3) == 0, F.concat(url, F.lit("/"))).otherwise(url)
    url = F.when(
        F.pmod(h, 2) == 0,
        F.concat(url, F.lit("?utm_source=rss&utm_medium=feed")),
    ).otherwise(url)
    url = F.when(
        F.pmod(h, 5) == 0,
        F.concat(url, F.lit("#frag"), F.pmod(h, 7).cast("string")),
    ).otherwise(url)
    return links.select("doc_id", url.alias("url"))


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup rollup — the crawl-frontier hygiene
    pass that collapses tracking-param / fragment / trailing-slash
    variants of the same target before fetch scheduling or link-graph
    construction.  Canonical form: strip #fragment, strip a
    tracking-only query string, strip the trailing slash — a fixed chain
    of native regexp_replace (row-local, scan-stage); the rollup is one
    map-side-combined groupBy on the canonical URL (key space = the
    site/path universe, dimension-bounded here; corpus-keyed on the open
    web, which is exactly what a frontier dedup shuffles on)."""
    noisy = _noisy_url(
        _links_df(spark, sf_dir).filter(F.col("href").startswith("https://"))
    )
    return url_canonicalize_rollup(canonicalize_urls(noisy))


def canonical_url_col(url) -> "F.Column":
    """The canonical form of a URL column: strip #fragment, strip a
    tracking-only query string, strip the trailing slash — a fixed chain
    of native regexp_replace, entirely row-local (scan-stage; stateless in
    a stream)."""
    c = F.regexp_replace(url, "#.*$", "")
    c = F.regexp_replace(c, "\\?utm_[^#]*$", "")
    return F.regexp_replace(c, "/$", "")


def canonicalize_urls(noisy: DataFrame) -> DataFrame:
    """Row-local canonical mapping (doc_id, url, canonical_url) — the
    batch rollup's input, and on a stream of links the stateless
    in-stream stage."""
    return noisy.select(
        "doc_id", "url", canonical_url_col(F.col("url")).alias("canonical_url")
    )


def url_canonicalize_rollup(mapped: DataFrame) -> DataFrame:
    """Frontier-dedup rollup over canonical mapping rows.  In streaming,
    run it inside foreachBatch (countDistinct is not a supported streaming
    state) — with an availableNow trigger the single batch is exactly the
    batch query."""
    return mapped.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("url").cast("long").alias("n_variants"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


def q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text aggregation — the classic web-graph feature
    (anchor text describes the TARGET page better than its own content;
    every search/crawl stack builds this table).  Per href: link count,
    distinct linking docs, and the modal anchor text (ties broken
    lexicographically).  Shuffle keys are target URLs with
    map-side-combinable counts; the mode window's frame is the per-target
    anchor vocabulary — tiny per key at any corpus size."""
    return anchor_stats_rollup(anchor_rows(_pages_df(spark, sf_dir)))


def anchor_rows(pages: DataFrame) -> DataFrame:
    """(doc_id, href, anchor) of the absolute links on (doc_id, html)
    pages — row-local, so on a stream of pages it is the stateless
    in-stream stage of the anchor-stats table."""
    return links_from_pages(pages).filter(
        F.col("href").startswith("https://")
    ).select("doc_id", "href", "anchor")


def anchor_stats_rollup(links: DataFrame) -> DataFrame:
    """Per-target anchor aggregation over (doc_id, href, anchor) rows —
    shared by the batch query and foreachBatch streaming consumers (the
    chained agg + mode window is not a supported streaming state shape;
    the in-stream stage is the stateless ``anchor_rows``)."""
    counts = links.groupBy("href", "anchor").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("href").orderBy(F.desc("n"), F.asc("anchor"))
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            # fresh attribute for the self-join key: both branches share
            # lineage, and a memory-sink/view input otherwise trips
            # Catalyst's conflicting-attribute check on the common `href`
            F.col("href").alias("href_top"),
            F.col("anchor").alias("top_anchor"),
            F.col("n").cast("long").alias("top_anchor_n"),
        )
    )
    totals = links.groupBy("href").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    return totals.join(top, F.col("href") == F.col("href_top")).select(
        "href", "n_links", "n_docs", "top_anchor", "top_anchor_n"
    )


# --- quality scoring: corpus bigram-LM perplexity ----------------------------------
NGRAM_LM_ALPHA = 0.5


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal with NO model artifact: a bigram LM
    with add-alpha smoothing is estimated from the corpus itself (two
    vocabulary-bounded count aggregations), then every document is scored
    by its average bigram negative log-likelihood and perplexity.  The
    count tables are vocab- and bigram-vocab-sized — tiny next to the
    corpus — so scoring is the exploded bigram stream passing through two
    BROADCAST joins plus one doc_id agg; the corpus is never shuffled by
    token.  At open-web scale the raw vocabulary outgrows a broadcast:
    apply a frequency cutoff (hapaxes fold into an <unk> row, the
    standard KenLM pruning) before the join, keeping the same plan
    shape.  P(w2|w1) = (c(w1,w2)+a) / (c(w1)+a*V), c(w1) counted over
    histories so probabilities sum to 1 per history."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    docs = docs.filter(F.size("ws") >= 2)
    w1s = F.slice("ws", 1, F.size("ws") - 1)
    w2s = F.slice("ws", 2, F.size("ws") - 1)
    pairs = F.zip_with(
        w1s, w2s, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
    )
    bg = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    bi = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    a = NGRAM_LM_ALPHA
    nll = -F.log(
        (F.col("cb") + F.lit(a)) / (F.col("cu") + F.lit(a) * F.col("v"))
    )
    return (
        bg.join(F.broadcast(bi), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
    )


# --- data profiling (2): exact log2 length histogram -------------------------------
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length histogram in powers-of-two buckets — the shape chart a
    pipeline consults before choosing packing budgets and partition
    sizing.  The bucket is floor(log2(n_chars)) computed EXACTLY via the
    binary-representation length (string ops on integers), not floating
    log2, so Spark and the SQL oracle can never disagree at a power-of-
    two boundary.  One map-side-combined agg on a ~log2(max_len)-valued
    key."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.length(F.conv(F.col("n_chars").cast("string"), 10, 2)) - 1
    ).cast("long")
    return (
        docs.filter(F.col("n_chars") > 0)
        .groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


# --- quality scoring (3): char entropy + Zipf fit ----------------------------------
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the garbage
    detector that catches base64 blobs, mojibake, and key-mash runs that
    word-level heuristics miss.  Computed entirely with row-local
    higher-order array functions (distinct -> per-char count -> -sum p ln
    p), so the plan has ZERO wide stages: entropy scoring scales with the
    scan exactly like a projection.

    Edge semantics pinned to the oracle: empty/null-text docs emit NO row
    (DuckDB's unnest+GROUP BY drops them; without the filter Spark would
    emit n_distinct=0, entropy=-0.0).  Code-point safety: Spark 4's
    split(text, '') yields one element per Unicode code point (verified:
    U+1F600 stays a single element), matching DuckDB string_split_regex —
    supplementary-plane chars count once on both sides."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    chars = F.filter(F.split("text", ""), lambda x: x != F.lit(""))
    uniq = F.array_distinct(chars)
    n = F.size(chars)
    counts = F.transform(
        uniq, lambda c: F.size(F.filter(chars, lambda x: x == c))
    )
    entropy = -F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + (c / n) * F.log(c / n),
    )
    return docs.select(
        "doc_id",
        F.size(uniq).cast("long").alias("n_distinct"),
        F.round(entropy, 6).alias("entropy"),
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health check: least-squares slope of ln(freq) against
    ln(rank) over the word-frequency table — natural text tracks Zipf
    (slope near -1); a synthetic or template-heavy corpus drifts.  The
    frequency table is VOCABULARY-sized, so the global rank window and
    the regression aggregate run over a dimension-sized frame (at
    open-web scale: frequency-cutoff the tail first, same as
    q_lm_perplexity's <unk> fold, before the single-partition rank)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("w"))
    ranked = counts.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.round(F.regr_slope(F.log("c"), F.log("rank")), 4).alias("zipf_slope"),
        F.round(
            F.regr_intercept(F.log("c"), F.log("rank")), 4
        ).alias("zipf_intercept"),
    )


# --- dedup (2): cross-document duplicate n-gram coverage ---------------------------
DUPGRAM_N = 5


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of 5-grams that occur in ANY other document
    — the cross-corpus duplication signal (FineWeb/Gopher-style dup-frac
    filters) that complements q_repetition_score's within-document check.
    Shape: explode 5-grams, one gram-keyed count agg, join the counts
    back, one doc agg.  The gram-count table is corpus-scale (NOT
    broadcastable), so the count-back join is a hash-partitioned
    equi-join on the gram key — the unavoidable and correct plan; at
    100TB the join input shrinks first via a count>1 semi-filter (only
    duplicated grams re-join, typically a small minority of distinct
    grams).  Grams are md5'd so the shuffle carries 32-byte keys, not
    raw text."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    docs = docs.filter(F.size("ws") >= DUPGRAM_N)
    idx = F.sequence(F.lit(1), F.size("ws") - (DUPGRAM_N - 1))
    grams = F.transform(
        idx,
        lambda i: F.md5(F.concat_ws(" ", F.slice("ws", i, DUPGRAM_N))),
    )
    g = docs.select("doc_id", F.explode(grams).alias("gram"))
    # count each gram's distinct source docs; >1 means cross-doc duplicate
    gcount = g.distinct().groupBy("gram").agg(
        F.count(F.lit(1)).alias("n_docs_with")
    )
    dup = gcount.filter(F.col("n_docs_with") > 1).select("gram")
    return (
        g.join(dup, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_dup"))
        .join(
            g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_tot")),
            "doc_id",
            "right",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("_dup"), F.lit(0)).cast("long").alias("n_dup_grams"),
            F.col("_tot").cast("long").alias("n_grams"),
            F.round(F.coalesce(F.col("_dup"), F.lit(0)) / F.col("_tot"), 6).alias(
                "dup_frac"
            ),
        )
    )


# --- similarity: composed IVF-PQ ANN serving path ----------------------------------
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ serving path composed end-to-end: the query probes
    its IVF_NPROBE nearest inverted lists (coarse quantizer), and the
    surviving candidates are ranked by PQ ASYMMETRIC distance — the sum
    over subspaces of ||query-subvector − candidate's sub-centroid||² read
    from a per-query ADC lookup table of PQ_M × PQ_K entries.  This is
    the billion-vector ANN memory layout: full vectors are touched only
    to build the (tiny, broadcast) ADC table; candidates contribute PQ_M
    small codes each, so the scan is bytes-per-vector, not
    floats-per-dimension.  Candidate volume = |table| · nprobe / K, and
    every query-side frame (probe set, ADC) is broadcast.  Per-subspace
    distances round to 6dp before the sum (the q_pq_codes convention) so
    the ranking is reproducible in ANSI SQL."""
    emb = _embeddings(spark, sf_dir)
    assign = q_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    cb = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").cast("long").alias("code"),
        F.posexplode(_pq_slices("v")).alias("subspace", "cv"),
    )
    qsub = qvec.select(F.posexplode(_pq_slices("q")).alias("subspace", "qv"))
    adc = cb.join(qsub, "subspace").select(
        F.col("subspace").cast("long").alias("subspace"),
        "code",
        _l2sq(F.col("qv"), F.col("cv")).alias("sub_l2"),
    )
    cand = (
        assign.join(F.broadcast(_ivf_probe(emb, qvec)), "centroid_id")
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
    )
    codes = q_pq_codes(spark, sf_dir).select("vec_id", "subspace", "code")
    return (
        codes.join(cand, "vec_id", "left_semi")
        .join(F.broadcast(adc), ["subspace", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("sub_l2"), 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(10)
    )
