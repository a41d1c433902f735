"""Deterministic synthetic transcripts generator (FIXTURES.md §1).

Generates the driver's input_hint table shape —
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` plus the derived ``probs array<double>`` — entirely with
native Catalyst expressions over ``spark.range``: no driver-side data, no
RNG (hash arithmetic only), so the SAME table materializes at any scale
and any partitioning.  Conversation lengths are skewed (a heavy conv every
``heavy_every`` ids) to exercise the salted reassembly path.

Corpus rows are the reference's golden correction pairs (README examples,
doctest fixtures) noised exactly as documented: confusion-char swaps at
known positions with per-char confidence dipping below 0.9 at those
positions (0.56 / 0.78 are the README's published prob values,
/root/reference/README.md:21,32).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (clean, noisy, err_positions, biz) — biz routes to the corrector the
# reference's registry would pick (config/config.json:1-21:
# 'report' → keyword, 'doc' → bert).
CORPUS: list[tuple[str, str, list[int], str]] = [
    # README.md:17-27
    ("我爱北京天安门", "我爱北京大安门", [4], "doc"),
    # README.md:29-38 / bert_corrector.py doctest
    (
        "本着平等、自愿、诚信、互利的原则，一致同意本合同内容，并共同遵守。",
        "本着平等、白愿、诚信、互利的原则，一致同意本合同内容，并共同遵守。",
        [5],
        "doc",
    ),
    (
        "无效、重大瑕疵或不符合乙方其他规定的债权资产，乙方有权拒绝，不予初始登",
        "无效、重大暇疵或不符合乙方其他规定的债权资产，乙方有权拒绝，不子初始登",
        [5, 31],
        "doc",
    ),
    # masked_lm.py smoke sentence — 苦 stays (traditional guard), 丰→主
    ("国际电台苦名主持人", "国际电台苦名丰持人", [4, 6], "doc"),
    # digit guard: dip at a digit position → unchanged
    ("逾期3天要还", "逾期3天要还", [2], "doc"),
    # traditional + curve rejection → unchanged
    ("一万个文本", "一万个文本", [1], "doc"),
    # clean doc row (no error positions)
    ("本合同内容双方共同遵守", "本合同内容双方共同遵守", [], "doc"),
    # keyword_corrector.py doctests + fixture-2 errors
    ("未还本金", "宋还本全", [0, 3], "report"),
    ("逾期天", "数期大", [0, 2], "report"),
    ("未还本金", "术还本金", [0], "report"),
    # exact-keyword skip
    ("账户状态", "账户状态", [0], "report"),
    # clean keyword rows
    ("五级分类", "五级分类", [], "report"),
    ("剩余还款期数", "剩余还款期数", [], "report"),
    # non-CJK row → correctability filter pass-through
    ("settlement ok", "settlement ok", [], "report"),
]

_HTML_PREFIX = (
    '<html><head><title>t</title><style>.x{color:red}</style></head><body>'
    '<nav class="navbar"><a href="/">首页</a><a href="/a">账户</a></nav>'
    '<div class="content"><p>'
)
_HTML_SUFFIX = (
    "</p></div>"
    '<footer class="footer"><a href="/tos">条款</a> © 2026 example</footer>'
    "</body></html>"
)

# %LAYOUT documents (functions/layout_extract.py serialization): body box
# carries the turn text; the running header repeats on both pages and the
# footers are page numbers, so layout extraction recovers the body exactly.
_LAYOUT_PREFIX = (
    "%LAYOUT v1\n"
    "P0 36 20 559 34 机密文件 信贷报告\n"
    "P0 36 60 559 600 "
)
_LAYOUT_SUFFIX = (
    "\nP0 250 810 345 822 第 1 页\n"
    "P1 36 20 559 34 机密文件 信贷报告\n"
    "P1 250 810 345 822 第 2 页"
)


# one turn in HTML_FRACTION_DENOM is wrapped in HTML; of the rest, one in
# LAYOUT_FRACTION_DENOM is a %LAYOUT document
HTML_FRACTION_DENOM = 5
LAYOUT_FRACTION_DENOM = 7


def corpus_df(spark: SparkSession) -> DataFrame:
    """``CORPUS`` as a frame of literals built in the JVM: a frame from a
    Python list would run a Python job, whose workers stay up in a pool of
    their own beside the correction UDF's."""
    rows = [
        F.struct(
            F.lit(i).cast("long").alias("corpus_idx"),
            F.lit(clean).alias("text_clean"),
            F.lit(noisy).alias("text_noisy"),
            F.array(*map(F.lit, errs)).cast("array<int>").alias("err_expected"),
            F.lit(biz).alias("biz"),
        )
        for i, (clean, noisy, errs, biz) in enumerate(CORPUS)
    ]
    return spark.range(1).select(F.inline(F.array(*rows)))


def gen_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    heavy_every: int = 97,
    heavy_turns: int = 200,
    keep_oracle_cols: bool = False,
    seed: int = 0,
) -> DataFrame:
    """Deterministic transcripts table; ~n_convs * ~5.5 rows (+ heavy tail).

    ``seed`` is folded into every hash-derived choice (corpus pick, variant
    suffix, html flag) so distinct seeds yield same-shaped but textually
    distinct tables — the bench protocol times each rep on a fresh seed so
    worker-side memoization cannot ride across reps.
    """
    # one select before the join and one after: each withColumn would
    # analyse the whole plan again as the frame is built
    n_turns = F.when(
        F.pmod(F.col("id"), F.lit(heavy_every)) == 0, F.lit(heavy_turns)
    ).otherwise((F.pmod(F.col("id") * 2654435761, 1000) % 8 + 1).cast("int"))
    turns = spark.range(n_convs).select(
        "id",
        F.format_string("conv-%06d", F.col("id")).alias("conv_id"),
        F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx"),
    )
    pick = F.pmod(
        F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(seed)), F.lit(len(CORPUS))
    )
    df = turns.join(F.broadcast(corpus_df(spark)), pick == F.col("corpus_idx"))

    # High-cardinality variant rows (~half): append a unique CJK suffix so
    # the corpus is not a handful of distinct strings — the correction
    # kernels (and their memo) see realistic cardinality.  Error positions
    # stay in the prefix, so the designed corrections still apply on the
    # doc path; keyword-path variants exercise the BK-search miss path.
    suffix = F.concat(
        F.lit("。编号"),
        F.translate(
            F.lpad(
                F.pmod(
                    F.xxhash64("conv_id", "turn_idx", F.lit(13), F.lit(seed)),
                    F.lit(100000),
                ).cast(
                    "string"
                ),
                5,
                "0",
            ),
            "0123456789",
            "零一二三四五六七八九",
        ),
    )
    is_variant = (
        F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(29), F.lit(seed)), F.lit(2)) == 0
    ) & (F.length("text_noisy") > 4)
    noisy = F.when(is_variant, F.concat(F.col("text_noisy"), suffix)).otherwise(
        F.col("text_noisy")
    )
    clean = F.when(is_variant, F.concat(F.col("text_clean"), suffix)).otherwise(
        F.col("text_clean")
    )

    # per-char probs over the INNER (pre-HTML-wrap) noisy text: 0.99
    # everywhere, dipping to the README's published 0.56 at injected errors
    probs = F.when(
        F.length(noisy) > 0,
        F.transform(
            F.sequence(F.lit(0), F.length(noisy) - 1),
            lambda i: F.when(
                F.array_contains("err_expected", i.cast("int")), F.lit(0.56)
            ).otherwise(F.lit(0.99)),
        ),
    ).otherwise(F.array().cast("array<double>"))

    is_html = (
        F.pmod(
            F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(7), F.lit(seed)),
            F.lit(HTML_FRACTION_DENOM),
        )
        == 0
    )
    is_layout = (
        F.pmod(
            F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(11), F.lit(seed)),
            F.lit(LAYOUT_FRACTION_DENOM),
        )
        == 0
    ) & ~is_html
    text = (
        F.when(is_html, F.concat(F.lit(_HTML_PREFIX), noisy, F.lit(_HTML_SUFFIX)))
        .when(is_layout, F.concat(F.lit(_LAYOUT_PREFIX), noisy, F.lit(_LAYOUT_SUFFIX)))
        .otherwise(noisy)
    )
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (F.pmod(F.col("turn_idx"), F.lit(3)) + 1).cast("int"),
    )
    # one conv per day, wrapping within a year: unbounded id*86400 at bench
    # scale (millions of convs) would run past pandas' ns-timestamp ceiling
    # (year 2262)
    ts = F.timestamp_seconds(
        F.lit(1767225600) + F.pmod(F.col("id"), F.lit(365)) * 86400 + F.col("turn_idx")
    )

    cols = [
        "conv_id",
        "turn_idx",
        role.alias("role"),
        text.alias("text"),
        F.col("biz").alias("tool"),
        ts.alias("ts"),
        probs.alias("probs"),
    ]
    if keep_oracle_cols:
        cols += [
            clean.alias("text_clean"),
            noisy.alias("text_noisy"),
            "err_expected",
            is_html.alias("is_html"),
            is_layout.alias("is_layout"),
        ]
    return df.select(*cols)
