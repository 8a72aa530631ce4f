"""Query pack 9 — training-data-pipeline operators over the documents corpus.

The stages a large-scale LLM training-data pipeline runs between "raw
corpus" and "training batches": quality filtering (C4-style rule cascade),
decontamination against an eval set, deterministic domain mixing, sequence
packing into fixed token windows, and tokenizer-prep vocabulary statistics.
Near-dup clustering (the other stage) lives in the dedup pack
(``neardup_components``).

Every stage is deterministic (md5-derived randomness) so the DuckDB oracle
replays the exact same sample/shuffle decisions. Scale notes per query: the
only global ordering (sequence packing) uses the two-pass prefix sum from
``operators/windows.scalable_running_sum`` instead of a single-partition
window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F

from ..llmdata import dedup, textstats
from ..operators import windows as OW
from ..sources.catalog import load_table
from .queries import literal_grid, query, r6

# ---------------------------------------------------------------------------
# Quality-filter funnel (C4-style cascade)
# ---------------------------------------------------------------------------

_FUNNEL_RULES = [
    (1, "min_tokens"),
    (2, "max_tokens"),
    (3, "stopword_ratio"),
    (4, "type_token_ratio"),
    (5, "dup_fingerprint"),
]


@query(
    "quality_filter_funnel",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             LEN(STRING_SPLIT(text, ' ')) AS n,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 t -> t IN ('the','a','of','to','and','in','is'))) AS n_stop,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct,
             MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
               AS fp
      FROM documents
    ),
    d AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id FROM s),
    f AS (SELECT CASE
            WHEN n < 25 THEN 1
            WHEN n > 90 THEN 2
            WHEN n_stop * 1.0 / n > 0.10 THEN 3
            WHEN n_distinct * 1.0 / n < 0.35 THEN 4
            WHEN doc_id != keep_id THEN 5
            ELSE 0 END AS first_fail
          FROM d),
    r AS (SELECT first_fail, COUNT(*) AS c FROM f GROUP BY first_fail),
    rules AS (SELECT * FROM (VALUES
        (1,'min_tokens'), (2,'max_tokens'), (3,'stopword_ratio'),
        (4,'type_token_ratio'), (5,'dup_fingerprint')) AS v(rule_id, rule)),
    j AS (SELECT rule_id, rule, CAST(COALESCE(c, 0) AS BIGINT) AS n_rejected
          FROM rules LEFT JOIN r ON r.first_fail = rule_id),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM f)
    SELECT rule_id, rule,
           CAST(total - COALESCE(SUM(n_rejected) OVER (ORDER BY rule_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS n_in,
           n_rejected,
           CAST(total - SUM(n_rejected) OVER (ORDER BY rule_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_out
    FROM j, t
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality-filter cascade with a per-rule rejection funnel —
    the shape of the reference's multi-rule data gating
    (`etl/data_validator.py` production predicate, P6/P7) re-targeted at a
    text corpus: length band, stopword mass, lexical diversity, then
    fingerprint dedup, applied in a fixed order; each doc charges its
    FIRST failing rule.

    Scale: one pass computes per-doc features + a window over the 16-byte
    fingerprint; the funnel itself aggregates to 5 rows before the
    (driver-light) cumulative windows. No per-rule rescan of the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = textstats.with_token_stats(docs).withColumn(
        "fp", textstats.bow_fingerprint(F.col("text"))
    )
    keep = F.min("doc_id").over(Window.partitionBy("fp"))
    first_fail = (
        F.when(F.col("n_tokens") < 25, 1)
        .when(F.col("n_tokens") > 90, 2)
        .when(F.col("stopword_ratio") > 0.10, 3)
        .when(F.col("ttr") < 0.35, 4)
        .when(F.col("doc_id") != F.col("keep_id"), 5)
        .otherwise(0)
    )
    f = s.withColumn("keep_id", keep).select(first_fail.alias("first_fail"))
    counts = f.groupBy("first_fail").agg(F.count(F.lit(1)).alias("c"))
    rules = literal_grid(spark, _FUNNEL_RULES, "rule_id int, rule string")
    j = (
        rules.join(counts, rules.rule_id == counts.first_fail, "left")
        .select(
            "rule_id",
            "rule",
            F.coalesce("c", F.lit(0)).cast("long").alias("n_rejected"),
        )
    )
    total = f.count()  # one scalar to the driver; corpus never collected
    w_prev = Window.orderBy("rule_id").rowsBetween(Window.unboundedPreceding, -1)
    w_cur = Window.orderBy("rule_id").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "rule_id",
        "rule",
        (F.lit(total) - F.coalesce(F.sum("n_rejected").over(w_prev), F.lit(0)))
        .cast("long")
        .alias("n_in"),
        "n_rejected",
        (F.lit(total) - F.sum("n_rejected").over(w_cur)).cast("long").alias("n_out"),
    )


# ---------------------------------------------------------------------------
# Decontamination against an eval split
# ---------------------------------------------------------------------------


@query(
    "decontamination_overlap",
    oracle="""
    WITH toks AS (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS t FROM documents),
    g AS (SELECT DISTINCT doc_id, source,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
                   AS gram
          FROM toks, UNNEST(RANGE(1, LEN(t) - 3)) AS u(i)),
    eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
    tg AS (SELECT doc_id, source, gram FROM g WHERE doc_id % 20 != 0),
    tot AS (SELECT doc_id, source, COUNT(*) AS ng FROM tg GROUP BY doc_id, source),
    ov AS (SELECT tg.doc_id, COUNT(*) AS no FROM tg JOIN eg USING (gram)
           GROUP BY tg.doc_id),
    per AS (SELECT t.doc_id, t.source, t.ng, COALESCE(o.no, 0) AS no
            FROM tot t LEFT JOIN ov o ON t.doc_id = o.doc_id)
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(no * 1.0 / ng), 6) AS avg_overlap_frac,
           CAST(SUM(CASE WHEN no * 2 >= ng THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated
    FROM per GROUP BY source
    """,
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training docs whose word-5-gram
    sets overlap an eval split (doc_id % 20 == 0) — the standard
    benchmark-leak scrub run before LLM training. A doc is contaminated
    when ≥ half its distinct 5-grams appear in the eval set (compared in
    integers: ``2·overlap ≥ n_grams`` — no float threshold to flip).

    Scale: the training side streams through one semi-join, so the
    corpus is shingled exactly once. The eval side's distinct-gram set
    GROWS WITH THE CORPUS (it's a fixed fraction, not a fixed benchmark
    suite), so it carries no broadcast hint — at test SFs AQE turns the
    semi-join into a broadcast for free; at 100 TB it falls back to a
    shuffled semi-join instead of OOMing the executors. If the eval set
    were a small fixed benchmark suite, bounding that input explicitly
    (and letting AQE broadcast it) would be the right variant.
    """
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    evald = docs.filter(F.col("doc_id") % 20 == 0)
    tg = train.select(
        "doc_id", "source", F.explode(dedup.shingles(F.col("text"), 5)).alias("gram")
    )
    eg = evald.select(
        F.explode(dedup.shingles(F.col("text"), 5)).alias("gram")
    ).distinct()
    tot = tg.groupBy("doc_id", "source").agg(F.count(F.lit(1)).alias("ng"))
    ov = (
        tg.join(eg, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("no"))
    )
    per = tot.join(ov, "doc_id", "left").withColumn(
        "no", F.coalesce("no", F.lit(0))
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(F.avg(F.col("no") * F.lit(1.0) / F.col("ng"))).alias("avg_overlap_frac"),
        F.sum(F.when(F.col("no") * 2 >= F.col("ng"), 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
    )


# ---------------------------------------------------------------------------
# Sequence packing into fixed token windows
# ---------------------------------------------------------------------------


@query(
    "sequence_packing_stats",
    oracle="""
    WITH s AS (SELECT doc_id,
                      LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
                      ('0x' || SUBSTR(MD5(doc_id::VARCHAR), 1, 8))::BIGINT
                        AS shuffle_key
               FROM documents),
    c AS (SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM s)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS bin_start,
           CAST(FLOOR((cum - 1) / 512.0) AS BIGINT) AS bin_end,
           CAST(FLOOR((cum - 1) / 512.0) - FLOOR((cum - n_tokens) / 512.0) + 1
             AS BIGINT) AS n_bins_spanned,
           CASE WHEN FLOOR((cum - 1) / 512.0) > FLOOR((cum - n_tokens) / 512.0)
                THEN 1 ELSE 0 END AS is_split
    FROM c
    """,
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk): deterministically shuffle the
    corpus (md5 of doc_id), lay token counts end-to-end, and cut fixed
    512-token context windows — each doc learns which bins it lands in
    and whether a bin boundary splits it. This is the packing layout an
    LLM data loader materializes; downstream per-bin stats (fill, splits)
    fall out of a groupBy on ``bin_start``.

    Scale: the global running sum uses the two-pass prefix sum
    (``operators/windows.scalable_running_sum``) — range-partitioned
    local cumsums plus a partition-count-sized offset broadcast — NOT a
    single-partition ``ORDER BY`` window, so the layout computation
    parallelizes at 100 TB. The oracle replays it as the plain global
    window (values identical by construction).
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        F.size(textstats.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("shuffle_key"),
    )
    c = OW.scalable_running_sum(
        s, ["shuffle_key", "doc_id"], "n_tokens", out_col="cum", num_partitions=8
    )
    bin_start = F.floor((F.col("cum") - F.col("n_tokens")) / 512.0)
    bin_end = F.floor((F.col("cum") - 1) / 512.0)
    return c.select(
        "doc_id",
        "n_tokens",
        bin_start.alias("bin_start"),
        bin_end.alias("bin_end"),
        (bin_end - bin_start + 1).alias("n_bins_spanned"),
        F.when(bin_end > bin_start, 1).otherwise(0).alias("is_split"),
    )


# ---------------------------------------------------------------------------
# Deterministic domain mixing
# ---------------------------------------------------------------------------


@query(
    "domain_mixing_sample",
    oracle="""
    WITH src AS (SELECT source, COUNT(*) AS n_s,
                        1 + (SUBSTR(source, 4)::INT % 3) AS weight
                 FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS tn,
                   CAST(SUM(weight) AS BIGINT) AS tw FROM src),
    rates AS (SELECT source, n_s, weight,
                     LEAST(1.0, (0.5 * tn) * (weight * 1.0 / tw) / n_s) AS rate
              FROM src, tot),
    u AS (SELECT source,
                 (('0x' || SUBSTR(MD5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000)
                   / 1000000.0 AS u
          FROM documents)
    SELECT r.source,
           CAST(r.n_s AS BIGINT) AS n_docs,
           r.weight AS weight,
           ROUND(r.rate, 6) AS rate,
           CAST(SUM(CASE WHEN u.u < r.rate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           ROUND(SUM(CASE WHEN u.u < r.rate THEN 1 ELSE 0 END) * 1.0 / r.n_s, 6)
             AS achieved_frac
    FROM rates r JOIN u ON u.source = r.source
    GROUP BY r.source, r.n_s, r.weight, r.rate
    """,
)
def domain_mixing_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified domain mixing: each source gets a target
    mixture weight (here ``1 + (source_num mod 3)`` as the fixture
    policy), the pipeline derives a per-source acceptance rate that hits
    a 50%-of-corpus sample at those proportions, and each doc's keep
    decision is ``md5(doc_id) < rate`` — reproducible across runs,
    engines, and re-partitioning (the property a training pipeline needs
    for resumable sampling).

    Scale: rates come from a sources-sized aggregate (tiny) broadcast
    back onto the corpus; the corpus itself is touched once, with no
    shuffle — the sample decision is embarrassingly parallel.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s")).withColumn(
        "weight", (F.lit(1) + F.substring("source", 4, 10).cast("int") % 3)
    )
    tot = src.agg(
        F.sum("n_s").alias("tn"), F.sum("weight").alias("tw")
    )
    rates = src.crossJoin(F.broadcast(tot)).withColumn(
        "rate",
        F.least(
            F.lit(1.0),
            (F.lit(0.5) * F.col("tn"))
            * (F.col("weight") * F.lit(1.0) / F.col("tw"))
            / F.col("n_s"),
        ),
    )
    u = docs.select(
        "source",
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
                ).cast("long")
                % 1000000
            )
            / 1000000.0
        ).alias("u"),
    )
    flag = F.when(F.col("u") < F.col("rate"), 1).otherwise(0)
    return (
        u.join(F.broadcast(rates), "source")
        .groupBy("source", "n_s", "weight", "rate")
        .agg(
            F.sum(flag).cast("long").alias("n_sampled"),
            r6(F.sum(flag) * F.lit(1.0) / F.col("n_s").cast("double")).alias(
                "achieved_frac"
            ),
        )
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_docs"),
            "weight",
            r6(F.col("rate")).alias("rate"),
            "n_sampled",
            "achieved_frac",
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer-prep vocabulary statistics
# ---------------------------------------------------------------------------


@query(
    "corpus_vocab_coverage",
    oracle="""
    WITH tok AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
    c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    r AS (SELECT token, n,
                 CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT)
                   AS token_rank,
                 SUM(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING)
                   AS cum,
                 SUM(n) OVER () AS tot
          FROM c)
    SELECT token, n AS n_occurrences, token_rank,
           ROUND(cum * 1.0 / tot, 6) AS cum_frac
    FROM r
    """,
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary table: corpus-wide token frequencies,
    Zipf rank, and cumulative coverage fraction — the statistic that
    decides a vocab-size cutoff ("top-k tokens cover 99.5% of the
    corpus") before training a tokenizer.

    Scale: the corpus-wide explode+count shrinks to DISTINCT-token
    cardinality first (map-side combined groupBy) — but by Heaps' law
    the distinct whitespace/regex tokens of a 100 TB web corpus still
    land at 10⁸–10⁹ rows (typos, URLs, numerals), far too many for a
    single-partition ranking window. The Zipf rank AND the cumulative
    occurrence sum are therefore ONE `scalable_prefix_sums` two-pass
    (range-repartition on (n DESC, token), local window sums + broadcast
    boundary offsets), and the coverage denominator is the driver-known
    grand total that pass already computed (`with_totals`) — no
    `Window.partitionBy()` grand-total scan either."""
    from ..operators.windows import scalable_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(textstats.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked, totals = scalable_prefix_sums(
        c,
        [F.col("n").desc(), "token"],
        {"token_rank": F.lit(1).cast("long"), "cum_n": "n"},
        with_totals=True,
    )
    return ranked.select(
        "token",
        F.col("n").alias("n_occurrences"),
        F.col("token_rank").cast("int").alias("token_rank"),
        r6(
            F.col("cum_n") * F.lit(1.0) / F.lit(int(totals["cum_n"]))
        ).alias("cum_frac"),
    )


# ---------------------------------------------------------------------------
# Sketch scale paths: count-min heavy hitters, HLL distinct counts
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256


@query(
    "heavy_hitter_tokens",
    oracle="""
    WITH tok AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
    c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token)
    SELECT token, n AS n_occurrences
    FROM c, t WHERE n * 50 >= total
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via count-min sketch + exact verification —
    the sketch-candidates-then-verify pattern (same shape as LSH dedup):
    a 4×256-cell CMS built in ONE aggregate pass bounds every token's
    count from above; tokens whose CMS estimate clears the threshold
    (≥ 2% of the stream) become candidates, and only candidates get an
    exact count. CMS never underestimates, so the candidate set is a
    superset of the true heavy hitters and the verified output is EXACT —
    which is why a plain GROUP BY/HAVING oracle can check it.

    Scale: the full-vocabulary groupBy never happens — the sketch is
    1,024 cells regardless of corpus size, candidates are a handful, and
    the exact-verify groupBy shuffles only candidate tokens (semi-join
    pushdown before the shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(textstats.tokens(F.col("text"))).alias("token"))

    def cms_idx(row: int) -> F.Column:
        # native 64-bit hash instead of md5+hex-conv (guide §4.1 "prefer
        # built-ins", §1.2 per-task work): the sketch is an internal
        # upper-bound structure — ANY hash family keeps CMS a superset
        # bound and the exact verify filter unchanged, so the OUTPUT is
        # identical while each occurrence pays 2×4 cheap hashes instead
        # of 2×4 md5+string conversions (sketch pass + verify pass)
        return F.pmod(F.xxhash64(F.lit(row), F.col("token")), F.lit(_CMS_WIDTH))

    # sketch build: one pass, d counters per token occurrence, grouped to
    # d*w cells (map-side combine makes the shuffle carry ≤ d*w rows/task)
    cells = (
        tok.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("row"), cms_idx(j).alias("idx"))
                        for j in range(_CMS_DEPTH)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.row", "cell.idx")
        .groupBy("row", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # ≤ d*w = 1,024 rows — lazily pin the sketch so the estimate
        # joins and the total read one materialization inside the single
        # action job (no corpus-sized checkpoint, no separate build job;
        # optimization round 12, guide §2.3/§6: the corpus is read
        # exactly twice — sketch pass + verify pass — never materialized)
        .persist()
    )
    # stream length from the sketch itself: every CMS row's cells sum to
    # the total occurrence count, so row 0's sum IS tok.count(); carried
    # as a broadcast scalar column, not a driver collect
    total = F.broadcast(
        cells.filter(F.col("row") == 0).agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("total")
        )
    )
    # estimate per OCCURRENCE (same est for every occurrence of a token,
    # so the kept set is identical to the per-vocab formulation — without
    # the full-vocabulary distinct() exchange the old shape paid): 4
    # broadcast joins against the 256-cell slices, map-side only
    occ = tok
    for j in range(_CMS_DEPTH):
        cj = cells.filter(F.col("row") == j).select(
            F.col("idx").alias(f"idx{j}"), F.col("cnt").alias(f"cnt{j}")
        )
        occ = occ.withColumn(f"idx{j}", cms_idx(j)).join(
            F.broadcast(cj), f"idx{j}"
        )
    occ = occ.withColumn(
        "cms_est", F.least(*[F.col(f"cnt{j}") for j in range(_CMS_DEPTH)])
    ).crossJoin(total)
    # exact verify: CMS never underestimates, so candidate occurrences
    # are a superset of true heavy hitters; the groupBy shuffles only
    # candidate-token occurrences and the final filter is exact
    return (
        occ.filter(F.col("cms_est") * 50 >= F.col("total"))
        .groupBy("token", "total")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") * 50 >= F.col("total"))
        .select("token", "n_occurrences")
    )


@query(
    "hll_distinct_fingerprints",
    oracle="""
    WITH fp AS (
      SELECT source,
             MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
               STRING_SPLIT(text, ' '))), ' ')) AS fp
      FROM documents
    )
    SELECT source,
           COUNT(DISTINCT fp) AS exact_distinct_docs,
           TRUE AS hll_within_3rsd
    FROM fp GROUP BY source
    """,
)
def hll_distinct_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-document estimation via HyperLogLog++ —
    the COUNT(DISTINCT) scale path: ``approx_count_distinct`` merges
    fixed-size HLL registers instead of shuffling every distinct value,
    so a 100 TB cardinality rollup shuffles KB/task rather than the key
    universe.

    Oracle-backed ERROR-BOUND check (upgraded from rows-only): DuckDB's
    approx_distinct uses a different HLL seed, so the ESTIMATE can't
    hash-match — instead the query emits the exact distinct count (which
    the oracle re-derives, fingerprint included, from raw text) plus an
    in-query assertion that the HLL estimate sits within 3× the default
    5% rsd of it; the oracle expects TRUE, so an out-of-bound sketch
    breaks the hash. The unit test additionally pins the numeric
    relative error."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source", textstats.bow_fingerprint(F.col("text")).alias("fp")
    )
    exact = F.countDistinct("fp")
    approx = F.approx_count_distinct("fp")
    return fp.groupBy("source").agg(
        exact.alias("exact_distinct_docs"),
        (F.abs(approx - exact) <= F.lit(0.15) * exact).alias("hll_within_3rsd"),
    )


@query(
    "padding_waste_by_bucket",
    oracle="""
    WITH s AS (SELECT LEN(STRING_SPLIT(text, ' ')) AS n FROM documents),
    b AS (SELECT n, CAST(CEIL(n / 32.0) * 32 AS BIGINT) AS padded_len FROM s)
    SELECT padded_len, COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) * padded_len AS BIGINT) AS padded_tokens,
           ROUND(1.0 - CAST(SUM(n) AS BIGINT) * 1.0 / (COUNT(*) * padded_len), 6)
             AS waste_frac
    FROM b GROUP BY padded_len
    """,
)
def padding_waste_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-padding efficiency audit: bucket documents to the 32-token
    padded length a fixed-shape batcher would allocate, and measure the
    fraction of padded positions wasted per bucket — the number that
    decides between padding, packing (L14), and length-sorted batching
    in a training data loader. Complements ``sequence_packing_stats``:
    that one measures the packed layout, this one what padding would
    have cost instead."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(textstats.tokens(F.col("text")))
    b = docs.select(
        n.alias("n"),
        (F.ceil(n / F.lit(32.0)) * 32).cast("long").alias("padded_len"),
    )
    return b.groupBy("padded_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        (F.count(F.lit(1)) * F.col("padded_len").cast("long"))
        .cast("long")
        .alias("padded_tokens"),
        r6(
            F.lit(1.0)
            - F.sum("n").cast("long")
            * F.lit(1.0)
            / (F.count(F.lit(1)) * F.col("padded_len"))
        ).alias("waste_frac"),
    )


# ---------------------------------------------------------------------------
# L29 — sliding-window chunking with overlap (context-window prep)
# ---------------------------------------------------------------------------

_SW_WINDOW = 128
_SW_STRIDE = 96  # 32-token overlap


@query(
    "sliding_window_chunks",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tokens FROM documents
    ),
    spans AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens <= {_SW_WINDOW} THEN 1
                  ELSE CAST(CEIL((n_tokens - {_SW_WINDOW})
                                 / {_SW_STRIDE}.0) AS BIGINT) + 1
             END AS n_chunks
      FROM d
    ),
    chunks AS (
      SELECT s.doc_id, s.n_tokens, s.n_chunks, u.i AS chunk_id,
             (u.i - 1) * {_SW_STRIDE} AS start_tok,
             LEAST((u.i - 1) * {_SW_STRIDE} + {_SW_WINDOW}, s.n_tokens)
               AS end_tok
      FROM spans s, UNNEST(RANGE(1, s.n_chunks + 1)) AS u(i)
    )
    SELECT doc_id,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MAX(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(end_tok - start_tok) AS BIGINT) AS chunk_tokens,
           ROUND(SUM(end_tok - start_tok) * 1.0 / MAX(n_tokens), 6)
             AS duplication_factor,
           CAST(MAX(CASE WHEN chunk_id = n_chunks
                         THEN end_tok - start_tok END) AS BIGINT)
             AS last_chunk_len,
           CAST(CASE WHEN MAX(n_chunks) > 1
                     THEN {_SW_WINDOW - _SW_STRIDE} ELSE 0 END AS BIGINT)
             AS overlap_tokens
    FROM chunks GROUP BY doc_id
    """,
)
def sliding_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L29 context-window chunking: split each document into 128-token
    windows advancing by a 96-token stride (32-token overlap)
    (the standard overlap-chunking used to preserve cross-boundary
    context when a tokenizer packs long documents into fixed windows —
    the complement of L14's concat-and-chunk packing, which has no
    overlap). Emits per-doc chunk counts, the token duplication factor
    the overlap costs (the number a data-loader budget needs), and the
    short-tail length of the final chunk.

    Chunk math is closed-form from the token count — the chunk rows are
    generated by an in-row explode (no join), aggregated straight back;
    the whole operator is one scan + one per-doc aggregate and never
    materializes chunk text."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(textstats.tokens(F.col("text")))
    spans = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n <= _SW_WINDOW, F.lit(1))
        .otherwise(
            F.ceil((n - _SW_WINDOW) / float(_SW_STRIDE)).cast("long") + 1
        )
        .cast("long")
        .alias("n_chunks"),
    )
    chunks = spans.select(
        "doc_id",
        "n_tokens",
        "n_chunks",
        F.explode(F.sequence(F.lit(1), F.col("n_chunks"))).alias("chunk_id"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_chunks",
        "chunk_id",
        ((F.col("chunk_id") - 1) * _SW_STRIDE).alias("start_tok"),
        F.least(
            (F.col("chunk_id") - 1) * _SW_STRIDE + _SW_WINDOW,
            F.col("n_tokens"),
        ).alias("end_tok"),
    )
    clen = F.col("end_tok") - F.col("start_tok")
    return chunks.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.max("n_chunks").cast("long").alias("n_chunks"),
        F.sum(clen).cast("long").alias("chunk_tokens"),
        r6(F.sum(clen) * 1.0 / F.max("n_tokens")).alias("duplication_factor"),
        F.max(F.when(F.col("chunk_id") == F.col("n_chunks"), clen))
        .cast("long")
        .alias("last_chunk_len"),
        F.when(F.max("n_chunks") > 1, _SW_WINDOW - _SW_STRIDE)
        .otherwise(0)
        .cast("long")
        .alias("overlap_tokens"),
    )


# ---------------------------------------------------------------------------
# Directional classifier training data (signal -> forward-price labels)
# ---------------------------------------------------------------------------

# Reference `scripts/build_directional_training_data.py:107-253`
# (`build_dataset`): every logged signal with classifier features gets a
# direction label from the FORWARD price at the signal's horizon
# (forward close > current close), independent of the action taken; the
# PnL win flag is the fallback label for production entries when no
# forward price exists (end-of-series), synthetic entries are skipped
# on the fallback path, and the cold-start verdict requires 50 labeled
# rows with at least 10 per class. Signals are the click events;
# prices are the per-key series; the horizon is the JSON k field's
# 1-5-bar band.
_DTD_COLD_START_N = 50
_DTD_MIN_CLASS = 10


#: ``k % 5 + 1`` keeps the sign of ``k`` (Spark's ``%`` truncates toward
#: zero), so a signal's horizon may be any offset in [-3, 5]
_FORWARD_OFFSETS = range(-3, 6)


def forward_value(col: str, offset: Column, w: WindowSpec) -> Column:
    """``col`` of the row ``offset`` rows after the current one in window
    ``w``: NULL past either end of the partition or for an offset outside
    ``_FORWARD_OFFSETS``, the row itself at 0, earlier rows when negative.
    It is what a left self-join on (key, rn + offset) returns with ``rn``
    the ``row_number`` over ``w``, read as one CASE over ``lead``/``lag``
    in the window pass the rows already have, so no exchange pair."""
    out = F.when(offset == 0, F.col(col))
    for h in _FORWARD_OFFSETS:
        if h > 0:
            out = out.when(offset == h, F.lead(col, h).over(w))
        elif h < 0:
            out = out.when(offset == h, F.lag(col, -h).over(w))
    return out


@query(
    "directional_training_dataset",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id, value, event_type,
             CAST(props->>'k' AS INTEGER) AS k,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             LN(value / LAG(value, 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS lr,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS f_ma5,
             STDDEV_SAMP(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
               AS f_vol10
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    sig AS (
      SELECT * FROM s WHERE event_type = 'click' AND k IS NOT NULL
    ),
    lab AS (
      SELECT g.user_id, g.event_id, g.rn, g.value, g.k, g.lr,
             g.f_ma5, g.f_vol10,
             (g.k % 5) + 1 AS horizon,
             fwd.value AS forward_close
      FROM sig g
      LEFT JOIN s fwd ON fwd.user_id = g.user_id
                     AND fwd.rn = g.rn + (g.k % 5) + 1
    )
    SELECT event_id AS ts_signal_id,
           'T' || CAST(user_id % 25 AS VARCHAR) AS ticker,
           rn AS entry_rn,
           horizon,
           CASE WHEN forward_close IS NOT NULL
                THEN CASE WHEN forward_close > value THEN 1 ELSE 0 END
                WHEN user_id % 10 <> 0 AND lr IS NOT NULL
                THEN CASE WHEN lr > 0 THEN 1 ELSE 0 END
                END AS y_directional,
           CASE WHEN forward_close IS NOT NULL THEN 'price_forward'
                WHEN user_id % 10 <> 0 AND lr IS NOT NULL
                THEN 'pnl_fallback' END AS label_source,
           ROUND(f_ma5, 6) AS f_ma5,
           ROUND(f_vol10, 6) AS f_vol10,
           k AS f_k
    FROM lab
    WHERE (forward_close IS NOT NULL)
       OR (user_id % 10 <> 0 AND lr IS NOT NULL)
    """,
)
def directional_training_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled direction-classifier rows — reference
    `scripts/build_directional_training_data.py:107-253`: all signals
    with classifier features (any action — the reference's
    selection-bias note), labeled by the forward close at the signal's
    horizon; the PnL win flag backs up end-of-series signals for
    production entries only (synthetic entries skipped on the fallback
    path, `:180-190`); unlabelable signals are dropped. Features carry
    the 5-bar mean and 10-bar vol at entry.

    Scale: one window pass that also reads the forward close
    (``forward_value``) — shuffle on the key only. No UDF."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    k = F.get_json_object("props", "$.k").cast("int")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "event_type",
        k.alias("k"),
        F.row_number().over(w).alias("rn"),
        F.log(F.col("value") / F.lag("value", 1).over(w)).alias("lr"),
        F.avg("value").over(w.rowsBetween(-4, 0)).alias("f_ma5"),
        F.stddev_samp("value").over(w.rowsBetween(-9, 0)).alias("f_vol10"),
        forward_value("value", (k % 5) + 1, w).alias("forward_close"),
    )
    lab = s.filter(
        (F.col("event_type") == "click") & F.col("k").isNotNull()
    ).withColumn("horizon", (F.col("k") % 5) + 1)
    prod = (F.col("user_id") % 10 != 0) & F.col("lr").isNotNull()
    has_fwd = F.col("forward_close").isNotNull()
    return lab.filter(has_fwd | prod).select(
        F.col("event_id").alias("ts_signal_id"),
        F.concat(F.lit("T"), (F.col("user_id") % 25).cast("string")).alias(
            "ticker"
        ),
        F.col("rn").alias("entry_rn"),
        "horizon",
        F.when(
            has_fwd,
            F.when(F.col("forward_close") > F.col("value"), 1).otherwise(0),
        )
        .when(prod, F.when(F.col("lr") > 0, 1).otherwise(0))
        .alias("y_directional"),
        F.when(has_fwd, "price_forward")
        .when(prod, "pnl_fallback")
        .alias("label_source"),
        r6(F.col("f_ma5")).alias("f_ma5"),
        r6(F.col("f_vol10")).alias("f_vol10"),
        F.col("k").alias("f_k"),
    )


# ---------------------------------------------------------------------------
# Classifier label accumulation (signal <-> outcome join + censuses)
# ---------------------------------------------------------------------------

# Reference `scripts/accumulate_classifier_labels.py:181-343`
# (`accumulate`): JSONL signal candidates joined to outcome-linked
# trades, already-accumulated signal ids skipped as duplicates, dual
# labels (y_directional from realized PnL, y_take_profit from the exit
# reason), the per-ticker eligibility status snapshot attached, and the
# summary censuses (matched / no-outcome / duplicate, label-source
# breakdown, feature fill rates). Signals are click events; outcomes
# are each signal key's same-day purchase (first by time — the
# outcome-linkage order); the existing dataset is the corpus's first
# 60% of days (the already-accumulated prefix).
_ACC_EXISTING_FRAC = 0.6


@query(
    "classifier_label_accumulation",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, ts, event_id, value, event_type,
             CAST(props->>'k' AS INTEGER) AS k,
             CAST(ts AS DATE) AS d
      FROM events WHERE value > 0
    ),
    bounds AS (
      SELECT MIN(d) AS d0,
             CAST(MIN(d) + CAST(FLOOR((DATEDIFF('day', MIN(d), MAX(d)) + 1)
                                      * {_ACC_EXISTING_FRAC}) AS INTEGER)
                  AS DATE) AS cutoff
      FROM ev
    ),
    sig AS (
      SELECT e.* FROM ev e
      WHERE e.event_type = 'click' AND e.k IS NOT NULL
    ),
    outc AS (
      SELECT user_id, d, value AS exit_value, k AS ok,
             ROW_NUMBER() OVER (PARTITION BY user_id, d
                                ORDER BY ts, event_id) AS ork
      FROM ev WHERE event_type = 'purchase'
    ),
    joined AS (
      SELECT s.event_id AS ts_signal_id,
             'T' || CAST(s.user_id % 25 AS VARCHAR) AS ticker,
             s.d, s.value AS entry_value, s.k,
             o.exit_value, o.ok,
             b.cutoff,
             s.d <= b.cutoff AS is_existing
      FROM sig s
      LEFT JOIN outc o ON o.user_id = s.user_id AND o.d = s.d AND o.ork = 1
      CROSS JOIN bounds b
    ),
    new_rows AS (
      SELECT ts_signal_id, ticker,
             ROUND(exit_value - entry_value, 6) AS realized_pnl,
             CASE WHEN exit_value > entry_value THEN 1 ELSE 0 END
               AS y_directional,
             CASE WHEN ok % 7 < 2 THEN 'TAKE_PROFIT'
                  WHEN ok % 7 < 4 THEN 'STOP_LOSS'
                  ELSE 'TIME_EXIT' END AS exit_reason,
             CASE WHEN ok % 7 < 2 THEN 1 ELSE 0 END AS y_take_profit,
             CASE WHEN CAST(SUBSTR(ticker, 2) AS INTEGER) < 8 THEN 'HEALTHY'
                  WHEN CAST(SUBSTR(ticker, 2) AS INTEGER) < 17 THEN 'WEAK'
                  ELSE 'LAB_ONLY' END AS ticker_status_snapshot
      FROM joined
      WHERE NOT is_existing AND exit_value IS NOT NULL
    ),
    census AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN NOT is_existing AND exit_value IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             CAST(SUM(CASE WHEN NOT is_existing AND exit_value IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS n_skipped_no_outcome,
             CAST(SUM(CASE WHEN is_existing THEN 1 ELSE 0 END) AS BIGINT)
               AS n_skipped_duplicate
      FROM joined
    )
    SELECT 'row' AS record_type, ts_signal_id, ticker, realized_pnl,
           y_directional, y_take_profit, exit_reason,
           ticker_status_snapshot,
           CAST(NULL AS BIGINT) AS census_value
    FROM new_rows
    UNION ALL
    SELECT 'census', NULL, 'n_candidates', NULL, NULL, NULL, NULL, NULL,
           n_candidates FROM census
    UNION ALL
    SELECT 'census', NULL, 'n_matched', NULL, NULL, NULL, NULL, NULL,
           n_matched FROM census
    UNION ALL
    SELECT 'census', NULL, 'n_skipped_no_outcome', NULL, NULL, NULL, NULL,
           NULL, n_skipped_no_outcome FROM census
    UNION ALL
    SELECT 'census', NULL, 'n_skipped_duplicate', NULL, NULL, NULL, NULL,
           NULL, n_skipped_duplicate FROM census
    """,
)
def classifier_label_accumulation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Outcome-linked label accumulation — reference
    `scripts/accumulate_classifier_labels.py:181-343`: signal candidates
    joined to their outcome-linked trades (first same-key same-day
    execution), already-accumulated ids (the corpus's first 60% of
    days) skipped as duplicates, unmatched candidates counted as
    no-outcome, and each new row carrying the dual labels
    (y_directional from realized PnL, y_take_profit from the
    TAKE_PROFIT exit reason) plus the ticker-eligibility status
    snapshot. Census rows carry the reference's summary counters.

    Scale: a per-(key, day) first-execution window + one equi-join; the
    cutoff date is a broadcast scalar. No UDF."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    k = F.get_json_object("props", "$.k").cast("int")
    e = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "event_type",
        k.alias("k"),
        F.to_date("ts").alias("d"),
    )
    bounds = e.agg(
        F.min("d").alias("d0"),
        F.date_add(
            F.min("d"),
            F.floor(
                (F.datediff(F.max("d"), F.min("d")) + 1) * _ACC_EXISTING_FRAC
            ).cast("int"),
        ).alias("cutoff"),
    )
    sig = e.filter((F.col("event_type") == "click") & F.col("k").isNotNull())
    outc = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("o_user"),
            F.col("d").alias("o_d"),
            F.col("value").alias("exit_value"),
            F.col("k").alias("ok"),
            F.row_number()
            .over(
                Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
            )
            .alias("ork"),
        )
        .filter(F.col("ork") == 1)
    )
    joined = (
        sig.join(
            outc,
            (F.col("o_user") == F.col("user_id"))
            & (F.col("o_d") == F.col("d")),
            "left",
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            F.col("event_id").alias("ts_signal_id"),
            F.concat(F.lit("T"), (F.col("user_id") % 25).cast("string")).alias(
                "ticker"
            ),
            F.col("value").alias("entry_value"),
            "exit_value",
            "ok",
            (F.col("d") <= F.col("cutoff")).alias("is_existing"),
        )
    )
    matched = ~F.col("is_existing") & F.col("exit_value").isNotNull()
    tnum = F.substring("ticker", 2, 10).cast("int")
    new_rows = joined.filter(matched).select(
        F.lit("row").alias("record_type"),
        "ts_signal_id",
        "ticker",
        F.round(F.col("exit_value") - F.col("entry_value"), 6).alias(
            "realized_pnl"
        ),
        F.when(F.col("exit_value") > F.col("entry_value"), 1)
        .otherwise(0)
        .alias("y_directional"),
        F.when(F.col("ok") % 7 < 2, 1).otherwise(0).alias("y_take_profit"),
        F.when(F.col("ok") % 7 < 2, "TAKE_PROFIT")
        .when(F.col("ok") % 7 < 4, "STOP_LOSS")
        .otherwise("TIME_EXIT")
        .alias("exit_reason"),
        F.when(tnum < 8, "HEALTHY")
        .when(tnum < 17, "WEAK")
        .otherwise("LAB_ONLY")
        .alias("ticker_status_snapshot"),
        F.lit(None).cast("bigint").alias("census_value"),
    )
    census = joined.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(matched.cast("int")).cast("bigint").alias("n_matched"),
        F.sum(
            (~F.col("is_existing") & F.col("exit_value").isNull()).cast("int")
        )
        .cast("bigint")
        .alias("n_skipped_no_outcome"),
        F.sum(F.col("is_existing").cast("int"))
        .cast("bigint")
        .alias("n_skipped_duplicate"),
    )

    # the four census rows explode from ONE reference of the aggregate
    # (optimization round 13, guide §2.4): unioning four selects of
    # `census` re-embedded the signal-outcome join subtree once per row
    def crow(key):
        return F.struct(
            F.lit("census").alias("record_type"),
            F.lit(None).cast("bigint").alias("ts_signal_id"),
            F.lit(key).alias("ticker"),
            F.lit(None).cast("double").alias("realized_pnl"),
            F.lit(None).cast("int").alias("y_directional"),
            F.lit(None).cast("int").alias("y_take_profit"),
            F.lit(None).cast("string").alias("exit_reason"),
            F.lit(None).cast("string").alias("ticker_status_snapshot"),
            F.col(key).alias("census_value"),
        )

    census_rows = census.select(
        F.explode(
            F.array(
                crow("n_candidates"),
                crow("n_matched"),
                crow("n_skipped_no_outcome"),
                crow("n_skipped_duplicate"),
            )
        ).alias("_c")
    ).select("_c.*")
    return new_rows.unionByName(census_rows)


# ---------------------------------------------------------------------------
# Family calibration report (per-model-family SNR gate telemetry)
# ---------------------------------------------------------------------------

# Reference `scripts/family_calibration_writer.py:32-470`
# (`build_family_calibration_row`): per model family — signals seen,
# SNR-gate and evidence-gate block counts, the observed-SNR percentile
# summary (p5/p25/p50/p75/p95), the median forward return the BLOCKED
# signals would have realized (the gate's opportunity-cost telemetry),
# and the closed-trade attribution (count, total PnL, win rate); plus
# the fleet analysis gate (>= 20 cycles, >= 2 regimes, >= 10 days
# span). Families come from the signal's k band; SNR is the |price -
# MA5| / sigma10 proxy; blocked-signal forward returns replay the
# signal's own horizon.
_FCW_MIN_CYCLES = 20
_FCW_MIN_REGIMES = 2
_FCW_MIN_DAYS = 10
_FCW_SNR_BLOCK = 0.5


@query(
    "family_calibration_report",
    oracle=f"""
    WITH s AS (
      SELECT user_id, ts, event_id, value, event_type,
             CAST(props->>'k' AS INTEGER) AS k,
             CAST(ts AS DATE) AS d,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS ma5,
             STDDEV_SAMP(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
               AS sd10,
             ('0x' || SUBSTR(MD5('ev|' || CAST(event_id AS VARCHAR)), 1, 6))
               ::BIGINT / 16777216.0 AS u
      FROM events WHERE value > 0
    ),
    sig AS (
      SELECT *,
             CASE k % 4 WHEN 0 THEN 'SARIMAX' WHEN 1 THEN 'GARCH'
                  WHEN 2 THEN 'SAMOSSA' ELSE 'MSSA_RL' END AS family,
             CASE k % 3 WHEN 0 THEN 'TRENDING' WHEN 1 THEN 'RANGING'
                  ELSE 'VOLATILE' END AS regime,
             CASE WHEN sd10 > 0 THEN ABS(value - ma5) / sd10 END AS snr,
             (k % 5) + 1 AS horizon
      FROM s WHERE event_type = 'click' AND k IS NOT NULL
    ),
    sig2 AS (
      SELECT g.*,
             COALESCE(g.snr, 0.0) < {_FCW_SNR_BLOCK} AS blocked_by_snr,
             g.u < 0.1 AS blocked_by_evidence,
             CASE WHEN fwd.value IS NOT NULL AND g.value > 0
                  THEN (fwd.value - g.value) / g.value END AS fwd_ret
      FROM sig g
      LEFT JOIN s fwd ON fwd.user_id = g.user_id
                     AND fwd.rn = g.rn + (g.k % 5) + 1
    ),
    outc AS (
      SELECT user_id, d, value AS exit_value,
             ROW_NUMBER() OVER (PARTITION BY user_id, d
                                ORDER BY ts, event_id) AS ork
      FROM s WHERE event_type = 'purchase'
    ),
    closed AS (
      SELECT g.family,
             CAST(COUNT(*) AS BIGINT) AS closed_count,
             ROUND(CAST(SUM(CAST(o.exit_value - g.value AS DECIMAL(28,6)))
                   AS DOUBLE), 2) AS closed_total_pnl,
             ROUND(AVG(CASE WHEN o.exit_value > g.value
                            THEN 1.0 ELSE 0.0 END), 6) AS closed_win_rate
      FROM sig2 g
      JOIN outc o ON o.user_id = g.user_id AND o.d = g.d AND o.ork = 1
      GROUP BY g.family
    ),
    fam AS (
      SELECT family,
             CAST(COUNT(*) AS BIGINT) AS signals_seen,
             CAST(SUM(CASE WHEN blocked_by_snr THEN 1 ELSE 0 END)
               AS BIGINT) AS blocked_by_snr,
             CAST(SUM(CASE WHEN blocked_by_evidence THEN 1 ELSE 0 END)
               AS BIGINT) AS blocked_by_evidence,
             ROUND(QUANTILE_CONT(snr, 0.05), 6) AS snr_p5,
             ROUND(QUANTILE_CONT(snr, 0.25), 6) AS snr_p25,
             ROUND(QUANTILE_CONT(snr, 0.5), 6) AS snr_p50,
             ROUND(QUANTILE_CONT(snr, 0.75), 6) AS snr_p75,
             ROUND(QUANTILE_CONT(snr, 0.95), 6) AS snr_p95,
             ROUND(QUANTILE_CONT(CASE WHEN blocked_by_snr
                                      OR blocked_by_evidence
                                 THEN fwd_ret END, 0.5), 6)
               AS blocked_forward_return_median
      FROM sig2 GROUP BY family
    ),
    gate AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS window_cycles,
             CAST(COUNT(DISTINCT regime) AS BIGINT) AS regime_count,
             DATEDIFF('day', MIN(d), MAX(d)) AS days_span
      FROM sig2
    )
    SELECT f.family, f.signals_seen, f.blocked_by_snr,
           f.blocked_by_evidence, f.snr_p5, f.snr_p25, f.snr_p50,
           f.snr_p75, f.snr_p95, f.blocked_forward_return_median,
           COALESCE(c.closed_count, 0) AS closed_count,
           COALESCE(c.closed_total_pnl, 0.0) AS closed_total_pnl,
           c.closed_win_rate,
           g.window_cycles, g.regime_count, g.days_span,
           CONCAT_WS(',',
             CASE WHEN g.window_cycles < {_FCW_MIN_CYCLES}
                  THEN 'window_cycles_below_min' END,
             CASE WHEN g.regime_count < {_FCW_MIN_REGIMES}
                  THEN 'regime_diversity_insufficient' END,
             CASE WHEN g.days_span < {_FCW_MIN_DAYS}
                  THEN 'window_span_days_below_min' END)
             AS analysis_gate_reasons
    FROM fam f
    LEFT JOIN closed c ON c.family = f.family
    CROSS JOIN gate g
    """,
)
def family_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-family SNR-gate calibration telemetry — reference
    `scripts/family_calibration_writer.py:327-470`: signals seen and
    SNR/evidence block counts per model family, the observed-SNR
    percentile summary, the median forward return blocked signals would
    have realized (opportunity-cost telemetry for gate tuning),
    outcome-linked closed-trade attribution, and the fleet analysis
    gate (cycles / regime-diversity / span minimums) whose reason codes
    ride on every row.

    Scale: one window pass (with the forward value), two
    bounded family groupBys, a broadcast gate scalar. No UDF."""
    from ..functions.scalars import hash_unit_interval

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    k = F.get_json_object("props", "$.k").cast("int")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "event_type",
        k.alias("k"),
        F.to_date("ts").alias("d"),
        F.row_number().over(w).alias("rn"),
        F.avg("value").over(w.rowsBetween(-4, 0)).alias("ma5"),
        F.stddev_samp("value").over(w.rowsBetween(-9, 0)).alias("sd10"),
        hash_unit_interval(F.lit("ev"), F.col("event_id")).alias("u"),
        forward_value("value", (k % 5) + 1, w).alias("f_value"),
    )
    sig = s.filter(
        (F.col("event_type") == "click") & F.col("k").isNotNull()
    ).select(
        "*",
        F.when(F.col("k") % 4 == 0, "SARIMAX")
        .when(F.col("k") % 4 == 1, "GARCH")
        .when(F.col("k") % 4 == 2, "SAMOSSA")
        .otherwise("MSSA_RL")
        .alias("family"),
        F.when(F.col("k") % 3 == 0, "TRENDING")
        .when(F.col("k") % 3 == 1, "RANGING")
        .otherwise("VOLATILE")
        .alias("regime"),
        F.when(
            F.col("sd10") > 0, F.abs(F.col("value") - F.col("ma5")) / F.col("sd10")
        ).alias("snr"),
    )
    sig2 = sig.select(
        "*",
        (F.coalesce(F.col("snr"), F.lit(0.0)) < _FCW_SNR_BLOCK).alias(
            "blocked_by_snr"
        ),
        (F.col("u") < 0.1).alias("blocked_by_evidence"),
        F.when(
            F.col("f_value").isNotNull() & (F.col("value") > 0),
            (F.col("f_value") - F.col("value")) / F.col("value"),
        ).alias("fwd_ret"),
    )
    outc = (
        s.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("o_user"),
            F.col("d").alias("o_d"),
            F.col("value").alias("exit_value"),
            F.row_number()
            .over(
                Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
            )
            .alias("ork"),
        )
        .filter(F.col("ork") == 1)
    )
    closed = (
        sig2.join(
            outc,
            (F.col("o_user") == F.col("user_id"))
            & (F.col("o_d") == F.col("d")),
        )
        .groupBy("family")
        .agg(
            F.count(F.lit(1)).alias("closed_count"),
            F.round(
                F.sum(
                    (F.col("exit_value") - F.col("value")).cast(
                        "decimal(28,6)"
                    )
                ).cast("double"),
                2,
            ).alias("closed_total_pnl"),
            F.round(
                F.avg(
                    F.when(F.col("exit_value") > F.col("value"), 1.0).otherwise(
                        0.0
                    )
                ),
                6,
            ).alias("closed_win_rate"),
        )
    )
    blocked = F.col("blocked_by_snr") | F.col("blocked_by_evidence")
    fam = sig2.groupBy("family").agg(
        F.count(F.lit(1)).alias("signals_seen"),
        F.sum(F.col("blocked_by_snr").cast("int"))
        .cast("bigint")
        .alias("blocked_by_snr"),
        F.sum(F.col("blocked_by_evidence").cast("int"))
        .cast("bigint")
        .alias("blocked_by_evidence"),
        r6(F.expr("percentile(snr, 0.05)")).alias("snr_p5"),
        r6(F.expr("percentile(snr, 0.25)")).alias("snr_p25"),
        r6(F.expr("percentile(snr, 0.5)")).alias("snr_p50"),
        r6(F.expr("percentile(snr, 0.75)")).alias("snr_p75"),
        r6(F.expr("percentile(snr, 0.95)")).alias("snr_p95"),
        r6(
            F.expr("percentile(CASE WHEN blocked_by_snr OR "
                   "blocked_by_evidence THEN fwd_ret END, 0.5)")
        ).alias("blocked_forward_return_median"),
    )
    gate = sig2.agg(
        F.count(F.lit(1)).alias("window_cycles"),
        F.countDistinct("regime").alias("regime_count"),
        F.datediff(F.max("d"), F.min("d")).alias("days_span"),
    )
    reasons = F.concat_ws(
        ",",
        F.when(
            F.col("window_cycles") < _FCW_MIN_CYCLES,
            "window_cycles_below_min",
        ),
        F.when(
            F.col("regime_count") < _FCW_MIN_REGIMES,
            "regime_diversity_insufficient",
        ),
        F.when(
            F.col("days_span") < _FCW_MIN_DAYS, "window_span_days_below_min"
        ),
    )
    return (
        fam.join(closed, "family", "left")
        .crossJoin(F.broadcast(gate))
        .select(
            "family",
            "signals_seen",
            "blocked_by_snr",
            "blocked_by_evidence",
            "snr_p5",
            "snr_p25",
            "snr_p50",
            "snr_p75",
            "snr_p95",
            "blocked_forward_return_median",
            F.coalesce(F.col("closed_count"), F.lit(0))
            .cast("bigint")
            .alias("closed_count"),
            F.coalesce(F.col("closed_total_pnl"), F.lit(0.0)).alias(
                "closed_total_pnl"
            ),
            F.col("closed_win_rate"),
            "window_cycles",
            "regime_count",
            "days_span",
            reasons.alias("analysis_gate_reasons"),
        )
    )


# ---------------------------------------------------------------------------
# L31 — temperature-based domain mixture reweighting (multilingual
# sampling a la XLM-R / mT5: p_d ∝ n_d^alpha)
# ---------------------------------------------------------------------------
_TMX_ALPHA = 0.7
_TMX_BUDGET_EPOCHS = 2.0  # token budget = 2x the corpus


@query(
    "temperature_mixture_weights",
    oracle=f"""
    WITH toks AS (
      SELECT lang, doc_id,
             CAST(LENGTH(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))
               AS BIGINT) AS n_tokens
      FROM documents WHERE TRIM(text) <> ''
    ),
    dom AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM toks GROUP BY lang
    ),
    tot AS (
      SELECT SUM(n_tokens) AS t_tokens,
             SUM(POWER(n_tokens, {_TMX_ALPHA})) AS t_pow
      FROM dom
    )
    SELECT d.lang, d.n_docs, d.n_tokens,
           ROUND(d.n_tokens / t.t_tokens, 6) AS natural_share,
           ROUND(POWER(d.n_tokens, {_TMX_ALPHA}) / t.t_pow, 6)
             AS tempered_share,
           ROUND((POWER(d.n_tokens, {_TMX_ALPHA}) / t.t_pow)
                 / (d.n_tokens / t.t_tokens), 6) AS upsampling_factor,
           ROUND(POWER(d.n_tokens, {_TMX_ALPHA}) / t.t_pow
                 * {_TMX_BUDGET_EPOCHS} * t.t_tokens / d.n_tokens, 6)
             AS effective_epochs
    FROM dom d CROSS JOIN tot t
    """,
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L31 temperature-based mixture reweighting — the multilingual
    sampling rule (XLM-R / mT5): domain sampling share p_d ∝ n_d^0.7,
    reported against the natural share with the implied upsampling
    factor and the effective epochs each domain sustains under a
    2x-corpus token budget (the data-constrained-scaling diagnostic:
    effective epochs >> 1 on small domains signal memorization risk).
    Beyond the reference per the charter's training-data mandate.

    Scale: one linear token count per doc, one domain aggregate, one
    broadcast scalar pair — no shuffle beyond the domain groupBy."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    dom = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    tot = dom.agg(
        F.sum("n_tokens").cast("double").alias("t_tokens"),
        F.sum(F.pow(F.col("n_tokens"), _TMX_ALPHA)).alias("t_pow"),
    )
    p_nat = F.col("n_tokens") / F.col("t_tokens")
    p_temp = F.pow(F.col("n_tokens"), _TMX_ALPHA) / F.col("t_pow")
    return dom.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(p_nat, 6).alias("natural_share"),
        F.round(p_temp, 6).alias("tempered_share"),
        F.round(p_temp / p_nat, 6).alias("upsampling_factor"),
        F.round(
            p_temp
            * _TMX_BUDGET_EPOCHS
            * F.col("t_tokens")
            / F.col("n_tokens"),
            6,
        ).alias("effective_epochs"),
    )


# ---------------------------------------------------------------------------
# L36 — epoch-capped token-budget allocation (data-constrained scaling)
# ---------------------------------------------------------------------------

# Beyond the reference per the charter's training-data mandate. The
# allocation rule is the published data-constrained-scaling recipe
# (Muennighoff et al. 2023: repeated data is near-free up to ~4 epochs,
# then decays): target domain weights w_d ∝ share^α over a token budget
# B, demand w_d·B per domain, HARD-CAP each domain at E_max epochs of its
# available tokens, then redistribute the capped surplus proportionally
# to the uncapped domains' weights in ONE pass (second-round overflow is
# reported as unallocated budget, not silently re-looped — the "no silent
# caps" rule). α = 2 sharpens toward bigger domains so both branches of
# the cap exercise on the near-uniform synthetic corpus.
_TBE_ALPHA = 2.0
_TBE_BUDGET_EPOCHS = 3.8   # B = 3.8x total corpus tokens
_TBE_EMAX = 4.0            # epoch cap per domain


@query(
    "token_budget_epoch_plan",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(LENGTH(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))
               AS BIGINT) AS n_tokens
      FROM documents WHERE TRIM(text) <> ''
    ),
    dom AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS avail
      FROM toks GROUP BY source
    ),
    tot AS (
      SELECT SUM(avail) AS t_tokens,
             SUM(POWER(avail, {_TBE_ALPHA})) AS t_pow
      FROM dom
    ),
    dem AS (
      SELECT d.source, d.n_docs, d.avail,
             d.avail / t.t_tokens AS natural_share,
             POWER(d.avail, {_TBE_ALPHA}) / t.t_pow AS w,
             POWER(d.avail, {_TBE_ALPHA}) / t.t_pow
               * {_TBE_BUDGET_EPOCHS} * t.t_tokens AS desired,
             {_TBE_BUDGET_EPOCHS} * t.t_tokens AS budget
      FROM dom d CROSS JOIN tot t
    ),
    cap AS (
      SELECT *,
             desired / avail AS epochs_raw,
             desired > {_TBE_EMAX} * avail AS capped,
             LEAST(desired, {_TBE_EMAX} * avail) AS alloc1
      FROM dem
    ),
    red AS (
      SELECT SUM(desired - alloc1) AS deficit,
             SUM(CASE WHEN NOT capped THEN w END) AS w_uncapped
      FROM cap
    ),
    fin AS (
      SELECT c.*,
             CASE WHEN NOT c.capped AND r.deficit > 0
                       AND r.w_uncapped > 0
                  THEN LEAST(c.alloc1 + r.deficit * c.w / r.w_uncapped,
                             {_TBE_EMAX} * c.avail)
                  ELSE c.alloc1 END AS alloc2
      FROM cap c CROSS JOIN red r
    ),
    fint AS (SELECT SUM(alloc2) AS t_alloc FROM fin)
    SELECT f.source, f.n_docs, f.avail AS available_tokens,
           ROUND(f.natural_share, 6) AS natural_share,
           ROUND(f.w, 6) AS target_weight,
           ROUND(f.desired, 6) AS desired_tokens,
           ROUND(f.epochs_raw, 6) AS epochs_raw,
           f.capped,
           ROUND(f.alloc2, 6) AS allocated_tokens,
           ROUND(f.alloc2 / f.avail, 6) AS epochs_final,
           ROUND(f.alloc2 / t.t_alloc, 6) AS final_share,
           ROUND(f.budget - t.t_alloc, 6) AS budget_unallocated
    FROM fin f CROSS JOIN fint t
    """,
)
def token_budget_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L36 epoch-capped token-budget allocation — demand per domain from
    sharpened target weights, the E_max-epoch cap, one proportional
    redistribution pass to uncapped domains, and the honestly-reported
    unallocated remainder.

    Scale: per-doc token count is linear; everything after the domain
    groupBy operates on |domains| rows with two broadcast scalar frames
    (totals, redistribution pool) — identical plan at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    # |domains| rows feeding the totals/demand/redistribution chain —
    # pin once (optimization round 13, guide §2.4): each crossJoin stage
    # re-embedded the corpus tokenize+groupBy subtree (584-line plan)
    dom = (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("avail"),
        )
        .localCheckpoint(eager=False)
    )
    tot = dom.agg(
        F.sum("avail").cast("double").alias("t_tokens"),
        F.sum(F.pow(F.col("avail"), _TBE_ALPHA)).alias("t_pow"),
    )
    w = F.pow(F.col("avail"), _TBE_ALPHA) / F.col("t_pow")
    dem = dom.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "avail",
        (F.col("avail") / F.col("t_tokens")).alias("natural_share"),
        w.alias("w"),
        (w * _TBE_BUDGET_EPOCHS * F.col("t_tokens")).alias("desired"),
        (F.lit(_TBE_BUDGET_EPOCHS) * F.col("t_tokens")).alias("budget"),
    )
    cap = dem.select(
        "*",
        (F.col("desired") / F.col("avail")).alias("epochs_raw"),
        (F.col("desired") > _TBE_EMAX * F.col("avail")).alias("capped"),
        F.least(F.col("desired"), _TBE_EMAX * F.col("avail")).alias(
            "alloc1"
        ),
    )
    red = cap.agg(
        F.sum(F.col("desired") - F.col("alloc1")).alias("deficit"),
        F.sum(F.when(~F.col("capped"), F.col("w"))).alias("w_uncapped"),
    )
    fin = cap.crossJoin(F.broadcast(red)).select(
        "*",
        F.when(
            ~F.col("capped")
            & (F.col("deficit") > 0)
            & (F.col("w_uncapped") > 0),
            F.least(
                F.col("alloc1")
                + F.col("deficit") * F.col("w") / F.col("w_uncapped"),
                _TBE_EMAX * F.col("avail"),
            ),
        )
        .otherwise(F.col("alloc1"))
        .alias("alloc2"),
    )
    fint = fin.agg(F.sum("alloc2").alias("t_alloc"))
    return fin.crossJoin(F.broadcast(fint)).select(
        "source",
        "n_docs",
        F.col("avail").alias("available_tokens"),
        F.round(F.col("natural_share"), 6).alias("natural_share"),
        F.round(F.col("w"), 6).alias("target_weight"),
        F.round(F.col("desired"), 6).alias("desired_tokens"),
        F.round(F.col("epochs_raw"), 6).alias("epochs_raw"),
        "capped",
        F.round(F.col("alloc2"), 6).alias("allocated_tokens"),
        F.round(F.col("alloc2") / F.col("avail"), 6).alias("epochs_final"),
        F.round(F.col("alloc2") / F.col("t_alloc"), 6).alias("final_share"),
        F.round(F.col("budget") - F.col("t_alloc"), 6).alias(
            "budget_unallocated"
        ),
    )


# ---------------------------------------------------------------------------
# L38 — corpus shard plan (dataloader sharding with skew census)
# ---------------------------------------------------------------------------

# Beyond the reference per the charter's training-data mandate: the write
# plan for a sharded training corpus. Two strategies side by side —
# id-mod round-robin (the naive hash-sharding stand-in; doc-count
# balanced, token-UNbalanced when lengths skew) and token-balanced
# contiguous sharding (exclusive prefix sum of tokens cut at
# ceil(total/N) boundaries — the streaming-writer plan whose worst shard
# overshoots by at most one document). Per (strategy, shard): doc/token/
# byte censuses, token share, and the strategy's max/mean token skew so
# the imbalance is a first-class output, not a surprise at training time.
_CSP_SHARDS = 8


@query(
    "corpus_shard_plan",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(LENGTH(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))
               AS BIGINT) AS n_tokens,
             n_chars
      FROM documents WHERE TRIM(text) <> ''
    ),
    tot AS (
      SELECT SUM(n_tokens) AS t_tokens,
             CAST(CEIL(CAST(SUM(n_tokens) AS DOUBLE)
                       / {_CSP_SHARDS}) AS BIGINT) AS width
      FROM toks
    ),
    a AS (
      SELECT t.doc_id, t.n_tokens, t.n_chars,
             CAST(t.doc_id % {_CSP_SHARDS} AS INT) AS shard_mod,
             CAST(LEAST(FLOOR(CAST(COALESCE(SUM(t.n_tokens) OVER (
                 ORDER BY t.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DOUBLE) / x.width), {_CSP_SHARDS - 1}) AS INT)
               AS shard_bal
      FROM toks t CROSS JOIN tot x
    ),
    longf AS (
      SELECT 'id_mod' AS strategy, shard_mod AS shard,
             n_tokens, n_chars FROM a
      UNION ALL
      SELECT 'token_balanced', shard_bal, n_tokens, n_chars FROM a
    ),
    g AS (
      SELECT strategy, shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_bytes
      FROM longf GROUP BY strategy, shard
    )
    SELECT g.strategy, g.shard, g.n_docs, g.tokens, g.n_bytes,
           ROUND(CAST(g.tokens AS DOUBLE) / x.t_tokens, 6) AS token_share,
           ROUND(CAST(MAX(g.tokens) OVER ws AS DOUBLE)
                 / (CAST(x.t_tokens AS DOUBLE) / {_CSP_SHARDS}), 6)
             AS strategy_max_skew,
           ROUND(CAST(g.tokens AS DOUBLE)
                 / (CAST(x.t_tokens AS DOUBLE) / {_CSP_SHARDS}), 6)
             AS shard_skew
    FROM g CROSS JOIN tot x
    WINDOW ws AS (PARTITION BY g.strategy)
    """,
)
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L38 corpus shard plan — both strategies' shard censuses with the
    max-skew diagnostic.

    Scale: the token prefix sum uses the `scalable_prefix_sums` two-pass
    (range-repartition on doc_id, parallel local cumsums, broadcast
    boundary offsets) — doc-grain metadata sharded across tasks, never a
    single-partition window; the censuses are map-side-combinable
    groupBys on 2N rows."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
        "n_chars",
    )
    tot = toks.agg(
        F.sum("n_tokens").alias("t_tokens"),
        F.ceil(
            F.sum("n_tokens").cast("double") / _CSP_SHARDS
        ).cast("long").alias("width"),
    )
    cum = OW.scalable_prefix_sums(
        toks, ["doc_id"], {"cum_tokens": "n_tokens"}
    )
    a = cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        "n_chars",
        "t_tokens",
        (F.col("doc_id") % _CSP_SHARDS).cast("int").alias("shard_mod"),
        F.least(
            F.floor(
                (F.col("cum_tokens") - F.col("n_tokens")).cast("double")
                / F.col("width")
            ),
            F.lit(_CSP_SHARDS - 1),
        ).cast("int").alias("shard_bal"),
    )
    longf = a.select(
        F.lit("id_mod").alias("strategy"),
        F.col("shard_mod").alias("shard"),
        "n_tokens",
        "n_chars",
        "t_tokens",
    ).unionByName(
        a.select(
            F.lit("token_balanced").alias("strategy"),
            F.col("shard_bal").alias("shard"),
            "n_tokens",
            "n_chars",
            "t_tokens",
        )
    )
    g = longf.groupBy("strategy", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
        F.sum("n_chars").cast("long").alias("n_bytes"),
        F.first("t_tokens").alias("t_tokens"),
    )
    ws = Window.partitionBy("strategy")
    mean_tok = F.col("t_tokens").cast("double") / _CSP_SHARDS
    return g.select(
        "strategy",
        "shard",
        "n_docs",
        "tokens",
        "n_bytes",
        r6(F.col("tokens").cast("double") / F.col("t_tokens")).alias(
            "token_share"
        ),
        r6(F.max("tokens").over(ws).cast("double") / mean_tok).alias(
            "strategy_max_skew"
        ),
        r6(F.col("tokens").cast("double") / mean_tok).alias("shard_skew"),
    )


# ---------------------------------------------------------------------------
# L40 — context-length sweep (truncation waste + packing bound per L)
# ---------------------------------------------------------------------------

# Beyond the reference per the charter's training-data mandate: choosing
# the training context length is a data decision — for each candidate L,
# report how much of the corpus survives single-document truncation
# (docs over L lose their tail), the one-doc-per-context padding waste,
# and the dense concat-packing lower bound (ceil(total/L) contexts) the
# L29 chunker realizes. Complements L23 (padding waste at a fixed
# bucketing) and L29 (the chunker itself) with the ACROSS-L comparison.
_CLS_LENGTHS = (64, 128, 256, 512)


@query(
    "context_length_sweep",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(LENGTH(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))
               AS BIGINT) AS n_tokens
      FROM documents WHERE TRIM(text) <> ''
    ),
    ls AS (SELECT UNNEST([{", ".join(str(x) for x in _CLS_LENGTHS)}])
             AS ctx_len),
    j AS (
      SELECT l.ctx_len, t.doc_id, t.n_tokens,
             LEAST(t.n_tokens, l.ctx_len) AS kept
      FROM toks t CROSS JOIN ls l
    ),
    g AS (
      SELECT ctx_len,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
             CAST(SUM(CASE WHEN n_tokens > ctx_len THEN 1 ELSE 0 END)
                  AS BIGINT) AS truncated_docs,
             CAST(SUM(n_tokens - kept) AS BIGINT) AS tokens_truncated,
             CAST(SUM(kept) AS BIGINT) AS kept_tokens
      FROM j GROUP BY ctx_len
    )
    SELECT CAST(ctx_len AS INT) AS ctx_len, n_docs, corpus_tokens,
           truncated_docs,
           ROUND(CAST(truncated_docs AS DOUBLE) / n_docs, 6)
             AS truncated_share,
           tokens_truncated,
           ROUND(CAST(tokens_truncated AS DOUBLE) / corpus_tokens, 6)
             AS truncation_loss,
           ROUND(CAST(kept_tokens AS DOUBLE) / (n_docs * ctx_len), 6)
             AS one_doc_utilization,
           CAST(CEIL(CAST(corpus_tokens AS DOUBLE) / ctx_len) AS BIGINT)
             AS packed_contexts,
           ROUND(CAST(corpus_tokens AS DOUBLE)
                 / (CEIL(CAST(corpus_tokens AS DOUBLE) / ctx_len)
                    * ctx_len), 6) AS packed_utilization
    FROM g
    """,
)
def context_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L40 context-length sweep — one corpus pass, a 4-row broadcast
    length dimension, one map-side-combinable groupBy. The packed bound
    assumes dense concat packing (no padding between docs), the regime
    the L29 sliding-window chunker produces."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    ls = literal_grid(
        spark, [(x,) for x in _CLS_LENGTHS], "ctx_len long"
    )
    j = toks.crossJoin(F.broadcast(ls)).select(
        "ctx_len",
        "n_tokens",
        F.least(F.col("n_tokens"), F.col("ctx_len")).alias("kept"),
    )
    g = j.groupBy("ctx_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("corpus_tokens"),
        F.sum((F.col("n_tokens") > F.col("ctx_len")).cast("int"))
        .cast("long")
        .alias("truncated_docs"),
        F.sum(F.col("n_tokens") - F.col("kept")).cast("long").alias(
            "tokens_truncated"
        ),
        F.sum("kept").cast("long").alias("kept_tokens"),
    )
    packed = F.ceil(
        F.col("corpus_tokens").cast("double") / F.col("ctx_len")
    ).cast("long")
    return g.select(
        F.col("ctx_len").cast("int").alias("ctx_len"),
        "n_docs",
        "corpus_tokens",
        "truncated_docs",
        r6(F.col("truncated_docs").cast("double") / F.col("n_docs")).alias(
            "truncated_share"
        ),
        "tokens_truncated",
        r6(
            F.col("tokens_truncated").cast("double")
            / F.col("corpus_tokens")
        ).alias("truncation_loss"),
        r6(
            F.col("kept_tokens").cast("double")
            / (F.col("n_docs") * F.col("ctx_len"))
        ).alias("one_doc_utilization"),
        packed.alias("packed_contexts"),
        r6(
            F.col("corpus_tokens").cast("double")
            / (packed * F.col("ctx_len")).cast("double")
        ).alias("packed_utilization"),
    )


# ---------------------------------------------------------------------------
# L41 — URL/domain filtering census
# ---------------------------------------------------------------------------

# Domain-level filtering is a first-class pretraining-pipeline stage
# (C4/RefinedWeb-style): parse the landing URL, extract the registrable
# domain and TLD, then drop blocklisted domains and suspicious TLDs. The
# testdata carries no URLs, so deterministic URLs are PLANTED from doc
# identity (pool index (doc_id*11)%8) — the operator under test is the
# real parse (regex domain/TLD extraction) + the filter ladder; the
# oracle replays the plant arithmetic AND the parse independently.
_DFC_POOL = [
    "arxiv.org", "en.wikipedia.org", "github.com", "blog.example.com",
    "news.site.org", "spam-mill.biz", "content-farm.net",
    "casino-spam.win",
]
_DFC_BLOCKLIST = ["spam-mill.biz", "content-farm.net"]
_DFC_BAD_TLDS = ["biz", "win"]

_DFC_POOL_SQL = "[" + ", ".join(f"'{d}'" for d in _DFC_POOL) + "]"
_DFC_BLOCK_SQL = ", ".join(f"'{d}'" for d in _DFC_BLOCKLIST)
_DFC_TLD_SQL = ", ".join(f"'{t}'" for t in _DFC_BAD_TLDS)


@query(
    "domain_filter_census",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             'https://' || ({_DFC_POOL_SQL})[CAST((doc_id * 11) % 8 AS INT) + 1]
               || '/' || CAST(doc_id AS VARCHAR) || '/' || lang || '.html'
               AS url
      FROM documents
    ),
    p AS (
      SELECT doc_id, n_chars,
             REGEXP_EXTRACT(url, 'https://([^/]+)/', 1) AS domain
      FROM u
    ),
    d AS (
      SELECT doc_id, n_chars, domain,
             REGEXP_EXTRACT(domain, '\\.([a-z]+)$', 1) AS tld
      FROM p
    ),
    lab AS (
      SELECT *,
             CASE WHEN domain IN ({_DFC_BLOCK_SQL}) THEN 'blocklisted_domain'
                  WHEN tld IN ({_DFC_TLD_SQL}) THEN 'suspicious_tld'
                  ELSE NULL END AS reason
      FROM d
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                   SUM(n_chars) AS chars_total FROM lab)
    SELECT domain, tld,
           CASE WHEN reason IS NULL THEN 'KEEP' ELSE 'DROP' END AS decision,
           reason,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(l.n_chars) AS BIGINT) AS n_chars,
           ROUND(CAST(COUNT(*) AS DOUBLE) / t.n_total, 6) AS doc_share,
           ROUND(CAST(SUM(l.n_chars) AS DOUBLE) / t.chars_total, 6)
             AS chars_share
    FROM lab l CROSS JOIN tot t
    GROUP BY domain, tld, reason, t.n_total, t.chars_total
    """,
)
def domain_filter_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L41: URL/domain filtering census — planted URLs parsed back with
    the REAL regex extraction (registrable domain, TLD), the
    blocklist-then-TLD decision ladder, per-domain doc/byte censuses and
    corpus shares.

    Scale: pure column algebra + a domain-grain groupBy (domain universe
    ≪ corpus; the real-world heavy hitter is the same bounded census);
    the corpus total is a broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    pool = F.array(*[F.lit(d) for d in _DFC_POOL])
    url = F.concat(
        F.lit("https://"),
        F.element_at(pool, ((F.col("doc_id") * 11) % 8).cast("int") + 1),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("/"),
        F.col("lang"),
        F.lit(".html"),
    )
    d = docs.select("doc_id", "n_chars", url.alias("url")).select(
        "doc_id",
        "n_chars",
        F.regexp_extract(F.col("url"), r"https://([^/]+)/", 1).alias(
            "domain"
        ),
    ).select(
        "*",
        F.regexp_extract(F.col("domain"), r"\.([a-z]+)$", 1).alias("tld"),
    )
    reason = (
        F.when(
            F.col("domain").isin(*_DFC_BLOCKLIST), "blocklisted_domain"
        )
        .when(F.col("tld").isin(*_DFC_BAD_TLDS), "suspicious_tld")
    )
    lab = d.select("*", reason.alias("reason"))
    tot = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("n_chars").alias("chars_total"),
    )
    return (
        lab.groupBy("domain", "tld", "reason")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "tld",
            F.when(F.col("reason").isNull(), "KEEP")
            .otherwise("DROP")
            .alias("decision"),
            "reason",
            "n_docs",
            "n_chars",
            r6(F.col("n_docs").cast("double") / F.col("n_total")).alias(
                "doc_share"
            ),
            r6(
                F.col("n_chars").cast("double") / F.col("chars_total")
            ).alias("chars_share"),
        )
    )


# ---------------------------------------------------------------------------
# L42 — corpus snapshot drift (PSI between crawl halves)
# ---------------------------------------------------------------------------

# "Did the new crawl shift the mixture?" — the between-snapshot drift
# audit a recurring ingestion pipeline runs before blending a new crawl
# into the training mix: language-share PSI and length-distribution PSI
# between snapshot A (doc_id even) and snapshot B (doc_id odd), with the
# standard 0.1 / 0.25 PSI verdict rungs. Length buckets are log2 bins
# (scale-free, no global quantile pass needed).
_CSD_EPS = 1e-6
_CSD_STABLE = 0.1
_CSD_MODERATE = 0.25


@query(
    "corpus_snapshot_drift",
    oracle=f"""
    WITH lab AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'B' END AS snap,
             lang,
             'len_2e' || CAST(LEAST(CAST(FLOOR(LOG2(n_chars + 1)) AS INT),
                                    12) AS VARCHAR) AS len_bucket
      FROM documents
    ),
    dims AS (
      SELECT 'lang' AS dimension, lang AS bucket, snap FROM lab
      UNION ALL
      SELECT 'length', len_bucket, snap FROM lab
    ),
    cnt AS (
      SELECT dimension, bucket,
             SUM(CASE WHEN snap = 'A' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN snap = 'B' THEN 1 ELSE 0 END) AS nb
      FROM dims GROUP BY dimension, bucket
    ),
    tots AS (
      SELECT dimension, SUM(na) AS ta, SUM(nb) AS tb
      FROM cnt GROUP BY dimension
    ),
    shares AS (
      SELECT c.dimension, c.bucket,
             GREATEST(CAST(c.na AS DOUBLE) / t.ta, {_CSD_EPS!r}) AS pa,
             GREATEST(CAST(c.nb AS DOUBLE) / t.tb, {_CSD_EPS!r}) AS pb
      FROM cnt c JOIN tots t ON t.dimension = c.dimension
    ),
    terms AS (
      SELECT dimension, bucket, pa, pb,
             (pa - pb) * LN(pa / pb) AS psi_term
      FROM shares
    ),
    total AS (
      SELECT dimension, 'TOTAL' AS bucket,
             CAST(NULL AS DOUBLE) AS share_a,
             CAST(NULL AS DOUBLE) AS share_b,
             ROUND(SUM(psi_term), 6) AS psi,
             CASE WHEN SUM(psi_term) < {_CSD_STABLE} THEN 'stable'
                  WHEN SUM(psi_term) < {_CSD_MODERATE}
                  THEN 'moderate_shift'
                  ELSE 'major_shift' END AS verdict
      FROM terms GROUP BY dimension
    )
    SELECT dimension, bucket,
           ROUND(pa, 6) AS share_a, ROUND(pb, 6) AS share_b,
           ROUND(psi_term, 6) AS psi, CAST(NULL AS VARCHAR) AS verdict
    FROM terms
    UNION ALL
    SELECT * FROM total
    """,
)
def corpus_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L42: between-snapshot mixture-drift audit — per-bucket population
    shares of the two crawl halves across the language and log2-length
    dimensions, the PSI contribution per bucket, and per-dimension PSI
    totals with the standard stable/moderate/major verdict rungs.

    Scale: one map-side-combinable groupBy per dimension (bucket
    universes are lang- and log-scale-bounded); per-dimension totals are
    a bounded second aggregate. No windows, no UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    lab = docs.select(
        F.when(F.col("doc_id") % 2 == 0, "A").otherwise("B").alias("snap"),
        "lang",
        F.concat(
            F.lit("len_2e"),
            F.least(
                F.floor(F.log2(F.col("n_chars") + 1)).cast("int"),
                F.lit(12),
            ).cast("string"),
        ).alias("len_bucket"),
    )
    dims = lab.select(
        F.lit("lang").alias("dimension"),
        F.col("lang").alias("bucket"),
        "snap",
    ).unionByName(
        lab.select(
            F.lit("length").alias("dimension"),
            F.col("len_bucket").alias("bucket"),
            "snap",
        )
    )
    cnt = dims.groupBy("dimension", "bucket").agg(
        F.sum((F.col("snap") == "A").cast("int")).alias("na"),
        F.sum((F.col("snap") == "B").cast("int")).alias("nb"),
    )
    tots = cnt.groupBy("dimension").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    # no broadcast hint: tots is 2 rows, AQE broadcasts it unaided (the
    # L13 dehinting policy — hints on subtrees that scan sf-scaled
    # tables are planaudit's FORCED_BROADCAST class)
    shares = cnt.join(tots, "dimension").select(
        "dimension",
        "bucket",
        F.greatest(
            F.col("na").cast("double") / F.col("ta"), F.lit(_CSD_EPS)
        ).alias("pa"),
        F.greatest(
            F.col("nb").cast("double") / F.col("tb"), F.lit(_CSD_EPS)
        ).alias("pb"),
    )
    terms = shares.select(
        "dimension",
        "bucket",
        "pa",
        "pb",
        (
            (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))
        ).alias("psi_term"),
    )
    total = terms.groupBy("dimension").agg(
        F.sum("psi_term").alias("psi_raw")
    ).select(
        "dimension",
        F.lit("TOTAL").alias("bucket"),
        F.lit(None).cast("double").alias("share_a"),
        F.lit(None).cast("double").alias("share_b"),
        r6(F.col("psi_raw")).alias("psi"),
        F.when(F.col("psi_raw") < _CSD_STABLE, "stable")
        .when(F.col("psi_raw") < _CSD_MODERATE, "moderate_shift")
        .otherwise("major_shift")
        .alias("verdict"),
    )
    per = terms.select(
        "dimension",
        "bucket",
        r6(F.col("pa")).alias("share_a"),
        r6(F.col("pb")).alias("share_b"),
        r6(F.col("psi_term")).alias("psi"),
        F.lit(None).cast("string").alias("verdict"),
    )
    return per.unionByName(total)


# ---------------------------------------------------------------------------
# L46 — mergeable quantile sketch with an exact error-bound oracle
# ---------------------------------------------------------------------------

# Exact quantiles need a global sort; a 100 TB length/score distribution
# is profiled with a MERGEABLE sketch instead (Spark's percentile_approx
# = Greenwald–Khanna summaries, one pass, map-side mergeable, rank error
# ≤ 1/accuracy). Like the L18 HLL row, the sketch output is STAGED and
# the oracle verifies the GUARANTEE exactly: for every staged estimate,
# the exact rank interval [#<est, #≤est] must intersect
# [(q−ε)·n, (q+ε)·n].
_LQS_QS = [0.05, 0.25, 0.5, 0.75, 0.95, 0.99]
_LQS_ACC = 100  # ε = 1/accuracy = 0.01 rank error
_LQS_QS_SQL = ", ".join(str(q) for q in _LQS_QS)


@query(
    "length_quantile_sketch",
    oracle=f"""
    WITH est AS (
      SELECT source, q, est FROM read_parquet(
        '__ORACLE_STAGE__/length_quantiles/*.parquet')
    ),
    ranks AS (
      SELECT e.source, e.q, e.est,
             CAST(SUM(CASE WHEN d.n_chars < e.est THEN 1 ELSE 0 END)
               AS BIGINT) AS rank_lo,
             CAST(SUM(CASE WHEN d.n_chars <= e.est THEN 1 ELSE 0 END)
               AS BIGINT) AS rank_le,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM est e JOIN documents d ON d.source = e.source
      GROUP BY e.source, e.q, e.est
    ),
    ex AS (
      SELECT source, UNNEST([{_LQS_QS_SQL}]) AS q,
             UNNEST([{", ".join(f"QUANTILE_CONT(n_chars, {q})" for q in _LQS_QS)}])
               AS exact_q
      FROM documents GROUP BY source
    )
    SELECT r.source, r.q, ROUND(r.est, 6) AS est,
           ROUND(ex.exact_q, 6) AS exact_quantile,
           r.n,
           ROUND(CAST(r.rank_le AS DOUBLE) / r.n, 6) AS rank_frac,
           {1.0 / _LQS_ACC!r} AS eps,
           r.rank_lo <= CEIL((r.q + {1.0 / _LQS_ACC!r}) * r.n)
             AND r.rank_le >= FLOOR((r.q - {1.0 / _LQS_ACC!r}) * r.n)
             AS within_bound
    FROM ranks r
    JOIN ex ON ex.source = r.source AND ex.q = r.q
    """,
)
def length_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L46: one-pass mergeable quantile profile of the corpus length
    distribution (Greenwald–Khanna `percentile_approx`, the 100 TB
    replacement for a global sort) with the sketch's rank-error
    GUARANTEE verified exactly: per (source, q), the exact rank interval
    of the staged estimate must intersect [(q−ε)n, (q+ε)n], ε = 1/acc.
    The exact QUANTILE_CONT value rides along for reviewers.

    Scale: the sketch is a map-side-mergeable aggregate (one corpus
    pass, KB-scale state per source); the verification arm's exact rank
    counts are one more map-side aggregate — only the TEST needs them,
    production reads the sketch alone."""
    from .queries import stage_cached

    docs = load_table(spark, sf_dir, "documents")

    def _build():
        est = docs.groupBy("source").agg(
            F.percentile_approx(
                F.col("n_chars").cast("double"), _LQS_QS, _LQS_ACC
            ).alias("ests")
        )
        qarr = F.array(*[F.lit(q) for q in _LQS_QS])
        return est.select(
            "source",
            F.explode(F.arrays_zip(qarr.alias("q"), F.col("ests").alias("est"))).alias(
                "z"
            ),
        ).select("source", F.col("z.q").alias("q"), F.col("z.est").alias("est"))

    est = stage_cached(spark, sf_dir, "length_quantiles", _build)
    ranks = (
        est.join(docs.select("source", "n_chars"), "source")
        .groupBy("source", "q", "est")
        .agg(
            F.sum((F.col("n_chars") < F.col("est")).cast("int"))
            .cast("long")
            .alias("rank_lo"),
            F.sum((F.col("n_chars") <= F.col("est")).cast("int"))
            .cast("long")
            .alias("rank_le"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    exact = docs.groupBy("source").agg(
        *[
            F.percentile(F.col("n_chars").cast("double"), F.lit(q)).alias(
                f"x_{i}"
            )
            for i, q in enumerate(_LQS_QS)
        ]
    )
    ex_long = exact.select(
        "source",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in _LQS_QS]).alias("q"),
                F.array(*[F.col(f"x_{i}") for i in range(len(_LQS_QS))]).alias(
                    "exact_q"
                ),
            )
        ).alias("z"),
    ).select("source", F.col("z.q").alias("q"), F.col("z.exact_q").alias("exact_q"))
    eps = 1.0 / _LQS_ACC
    return ranks.join(ex_long, ["source", "q"]).select(
        "source",
        "q",
        r6(F.col("est")).alias("est"),
        r6(F.col("exact_q")).alias("exact_quantile"),
        "n",
        r6(F.col("rank_le").cast("double") / F.col("n")).alias("rank_frac"),
        F.lit(eps).alias("eps"),
        (
            (F.col("rank_lo") <= F.ceil((F.col("q") + eps) * F.col("n")))
            & (F.col("rank_le") >= F.floor((F.col("q") - eps) * F.col("n")))
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# L47 — subword vocabulary induction (tokenizer-prep beyond raw tokens)
# ---------------------------------------------------------------------------

#: induced vocabulary size and rank-bucket width for the coverage table
_SVI_VOCAB = 200
_SVI_BUCKET = 20


@query(
    "subword_vocab_induction",
    oracle=f"""
    WITH tok AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok
                 FROM documents),
    m AS (SELECT '_' || tok AS m FROM tok WHERE LENGTH(tok) >= 2),
    tri AS (
      SELECT SUBSTR(m, CAST(i AS INTEGER), 3) AS gram
      FROM m, UNNEST(GENERATE_SERIES(1, LENGTH(m) - 2)) AS u(i)
    ),
    c AS (SELECT gram, COUNT(*) AS n FROM tri GROUP BY gram),
    r AS (SELECT gram, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, gram) AS rk
          FROM c),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
    SELECT CASE WHEN rk <= {_SVI_VOCAB}
                THEN CAST((rk - 1) // {_SVI_BUCKET} + 1 AS INTEGER)
                ELSE 0 END AS rank_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(n) AS BIGINT) AS n_occurrences,
           ROUND(SUM(n) * 1.0 / ANY_VALUE(tot), 6) AS frac_occurrences
    FROM r, t GROUP BY 1
    """,
)
def subword_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L47: frequency-based subword vocabulary induction — the
    WordPiece-style first pass a tokenizer-training pipeline runs: every
    token contributes its boundary-marked character trigrams
    ('_' + token, window 3), the corpus-wide trigram frequencies are
    ranked, the top ``_SVI_VOCAB`` become the induced vocabulary, and
    the output is the rank-bucketed coverage table (20-wide buckets,
    bucket 0 = everything beyond the vocabulary) that tells you how much
    of the corpus the induced subwords explain before byte-fallback.

    Scale: the trigram table is vocabulary-shaped but, like L16, Heaps'
    law keeps DISTINCT grams growing with corpus size — so the global
    rank is the `scalable_prefix_sums` two-pass (range-partition on
    (n DESC, gram)) with the coverage denominator from the driver-known
    grand total; the double explode (tokens, then trigram windows) is
    repartitioned to the session parallelism first."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    toks = (
        docs.repartition(par)
        .select(F.explode(textstats.tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
    )
    tri = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring('_' || tok, i, 3))"
            )
        ).alias("gram")
    )
    c = tri.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    # the coverage denominator rides the SAME two-pass (one extra value
    # column) — a separate c.agg() action would re-run the double
    # explode + gram aggregate from scratch
    ranked, totals = OW.scalable_prefix_sums(
        c,
        [F.col("n").desc(), "gram"],
        {"rk": F.lit(1).cast("long"), "cum_n": "n"},
        with_totals=True,
    )
    tot_occ = totals["cum_n"]
    bucket = (
        F.when(
            F.col("rk") <= _SVI_VOCAB,
            (F.floor((F.col("rk") - 1) / _SVI_BUCKET) + 1).cast("int"),
        )
        .otherwise(0)
        .alias("rank_bucket")
    )
    return ranked.groupBy(bucket).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("n").cast("long").alias("n_occurrences"),
        r6(F.sum("n") * F.lit(1.0) / F.lit(int(tot_occ))).alias(
            "frac_occurrences"
        ),
    )


# ---------------------------------------------------------------------------
# L48 — curriculum schedule (quality-ordered training stages)
# ---------------------------------------------------------------------------

_CURRICULUM_STAGES = 3


@query(
    "curriculum_schedule",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             LEN(STRING_SPLIT(text, ' ')) AS n_toks,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1.0
               / LEN(STRING_SPLIT(text, ' ')) AS ttr,
             MD5(CAST(doc_id AS VARCHAR)) AS shuf
      FROM documents
    ),
    r AS (SELECT *,
                 NTILE({_CURRICULUM_STAGES})
                   OVER (ORDER BY ttr, doc_id) AS stage
          FROM d)
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           ROUND(AVG(ttr), 6) AS mean_ttr,
           MIN_BY(doc_id, shuf) AS first_doc_id
    FROM r GROUP BY stage
    """,
)
def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L48: quality-curriculum staging — order the corpus by a lexical
    quality proxy (type-token ratio), cut it into
    ``_CURRICULUM_STAGES`` equal stages (low-diversity first, the
    easy-to-hard curriculum), and give each stage a DETERMINISTIC
    within-stage shuffle key (md5 of doc_id — replayable, seedless).
    Output: per-stage doc/token budgets, mean quality, and the shuffle
    head (the first document a trainer would read).

    Scale: the stage cut is the exact-NTILE two-pass —
    `scalable_row_number` over (ttr, doc_id) plus the SQL-standard
    divmod bucket rule from the driver-known total — so no
    single-partition ranking window; everything after is a 3-group
    aggregate. The shuffle head is `min_by` (no per-stage sort)."""
    from ..operators.windows import scalable_row_number

    docs = load_table(spark, sf_dir, "documents")
    toks = textstats.tokens(F.col("text"))
    d = docs.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        (
            F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)
        ).alias("ttr"),
        F.md5(F.col("doc_id").cast("string")).alias("shuf"),
    )
    ranked, total = scalable_row_number(
        d, ["ttr", "doc_id"], out_col="rk", with_total=True
    )
    from ..operators.windows import closed_form_ntile

    stage = closed_form_ntile(
        F.col("rk"), total, _CURRICULUM_STAGES
    ).alias("stage")
    return ranked.groupBy(stage).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        r6(F.avg("ttr")).alias("mean_ttr"),
        F.min_by("doc_id", "shuf").alias("first_doc_id"),
    )


# ---------------------------------------------------------------------------
# L54 — vocabulary growth curve (Heaps'-law corpus profile)
# ---------------------------------------------------------------------------


@query(
    "vocab_growth_curve",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE text <> ''),
    tk AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM d),
    fs AS (SELECT tok, MIN(doc_id) AS fdoc FROM tk GROUP BY tok),
    newc AS (SELECT fdoc AS doc_id, COUNT(*) AS n_new FROM fs GROUP BY fdoc),
    pd AS (
      SELECT d.doc_id,
             LEN(STRING_SPLIT(d.text, ' ')) AS n_tokens,
             COALESCE(n.n_new, 0) AS n_new
      FROM d LEFT JOIN newc n USING (doc_id)
    ),
    rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
                  COUNT(*) OVER () AS tot
           FROM pd),
    dc AS (SELECT CAST(LEAST(9, FLOOR((rn - 1) * 10.0 / tot)) AS INT)
                    AS decile,
                  n_tokens, n_new
           FROM rk),
    per AS (SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
                   CAST(SUM(n_new) AS BIGINT) AS new_sum
            FROM dc GROUP BY decile),
    cum AS (SELECT u.od AS decile,
                   CAST(SUM(p.n_docs) AS BIGINT) AS cum_docs,
                   CAST(SUM(p.tok_sum) AS BIGINT) AS cum_tokens,
                   CAST(SUM(p.new_sum) AS BIGINT) AS cum_distinct_tokens
            FROM per p, UNNEST(RANGE(p.decile, 10)) AS u(od)
            GROUP BY u.od)
    SELECT CAST(p.decile AS INT) AS decile,
           p.n_docs,
           c.cum_docs,
           c.cum_tokens,
           c.cum_distinct_tokens,
           ROUND(LN(c.cum_distinct_tokens)
                 / NULLIF(LN(c.cum_tokens), 0), 6) AS heaps_beta
    FROM per p JOIN cum c ON p.decile = c.decile
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L54 vocabulary growth curve: cumulative distinct tokens vs
    cumulative token count at corpus-order decile checkpoints, with the
    running Heaps'-law exponent estimate β ≈ ln V / ln N. The curve
    answers the tokenizer-prep questions L16/L47 (reference vocabulary
    intent per `forcester_ts/feature_engineering.py` vocabulary builds)
    leave open: is the corpus's vocabulary still growing, and at what
    rate would 100× more data grow it?

    Scale: "distinct tokens seen by prefix P" is re-expressed as a
    first-occurrence aggregation — MIN(doc_id) per token (one shuffle on
    token, the same shape as the L16 rank) — so NO prefix ever holds a
    distinct-set; the decile rank is `scalable_row_number` (two-pass, no
    single-partition window) and the 10-row cumulative fold is an
    explode(sequence) re-key, not an unpartitioned window."""
    from ..operators.windows import scalable_row_number

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text") != "")
    tk = docs.select(
        "doc_id", F.explode(textstats.tokens(F.col("text"))).alias("tok")
    )
    newc = (
        tk.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    pd = (
        docs.select(
            "doc_id",
            F.size(textstats.tokens(F.col("text"))).alias("n_tokens"),
        )
        .join(newc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    ranked, total = scalable_row_number(
        pd, ["doc_id"], out_col="rn", with_total=True
    )
    dec = ranked.select(
        F.least(
            F.lit(9), F.floor((F.col("rn") - 1) * 10.0 / F.lit(total))
        )
        .cast("int")
        .alias("decile"),
        "n_tokens",
        "n_new",
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tok_sum"),
        F.sum("n_new").cast("long").alias("new_sum"),
    )
    cum = (
        per.select(
            F.explode(F.sequence(F.col("decile"), F.lit(9))).alias("od"),
            "n_docs",
            "tok_sum",
            "new_sum",
        )
        .groupBy("od")
        .agg(
            F.sum("n_docs").cast("long").alias("cum_docs"),
            F.sum("tok_sum").cast("long").alias("cum_tokens"),
            F.sum("new_sum").cast("long").alias("cum_distinct_tokens"),
        )
    )
    return per.join(cum, per.decile == cum.od).select(
        per.decile.cast("int").alias("decile"),
        "n_docs",
        "cum_docs",
        "cum_tokens",
        "cum_distinct_tokens",
        r6(
            F.log("cum_distinct_tokens")
            / F.nullif(F.log("cum_tokens"), F.lit(0.0))
        ).alias("heaps_beta"),
    )


_QUOTA_CAP = 60  # docs per source the deterministic quota sample keeps


@query(
    "domain_quota_sample",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    rated AS (
      SELECT source, n_docs,
             LEAST(1.0, {_QUOTA_CAP}.0 / n_docs) AS quota_rate
      FROM counts
    ),
    kept AS (
      SELECT d.source, d.n_chars,
             CASE WHEN ('0x' || SUBSTR(MD5(CONCAT_WS('|', 'quota',
                          CAST(d.doc_id AS VARCHAR))), 1, 6))::BIGINT
                       / 16777216.0 < r.quota_rate
                  THEN 1 ELSE 0 END AS keep
      FROM documents d JOIN rated r ON d.source = r.source
    )
    SELECT k.source, r.n_docs,
           ROUND(r.quota_rate, 6) AS quota_rate,
           CAST(SUM(k.keep) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(k.keep) AS DOUBLE) / r.n_docs, 6) AS sel_rate,
           CAST(SUM(CASE WHEN k.keep = 1 THEN k.n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM kept k JOIN rated r ON k.source = r.source
    GROUP BY k.source, r.n_docs, r.quota_rate
    """,
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L58: deterministic per-domain quota sampling — the cap every
    web-scale corpus pipeline applies so no single domain dominates the
    training mix (CCNet/RefinedWeb-style "max N docs per domain"). The
    SCALABLE form is rate-based, not rank-based: exact top-K per domain
    needs a per-domain sort, but a Bernoulli keep at rate
    min(1, cap / n_domain) against a deterministic hash coin
    (`functions/scalars.hash_unit_interval` — portable md5, so both
    engines flip the SAME coins) needs only (1) one BOUNDED per-source
    count, (2) a broadcast of the rate table, (3) a map-side keep
    decision — no sort, no per-domain shuffle, linear in the corpus,
    reproducible across runs and engines. The census reports per source:
    corpus size, quota rate, kept count, realized selection rate, kept
    character mass. Expected-size (not exact-size) quotas are the
    documented tradeoff of the sort-free plan; the coin threshold
    compares IDENTICAL doubles on both engines (same md5, same one
    division), so the gate cannot flip.

    Charter training-data mandate (domain mixing family, with L15/L31);
    reference anchor: the per-ticker batch cap shape of
    etl/yfinance_extractor.py:275-318 applied to corpus curation."""
    from ..functions.scalars import hash_unit_interval

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    rated = counts.select(
        "source",
        "n_docs",
        F.least(F.lit(1.0), F.lit(float(_QUOTA_CAP)) / F.col("n_docs")).alias(
            "quota_rate"
        ),
    )
    coin = hash_unit_interval(F.lit("quota"), F.col("doc_id"))
    kept = docs.join(F.broadcast(rated), "source").select(
        "source",
        "n_docs",
        "quota_rate",
        "n_chars",
        (coin < F.col("quota_rate")).cast("int").alias("keep"),
    )
    return kept.groupBy("source", "n_docs", "quota_rate").agg(
        F.sum("keep").cast("long").alias("n_kept"),
        r6(F.sum("keep").cast("double") / F.col("n_docs")).alias("sel_rate"),
        F.sum(F.when(F.col("keep") == 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    ).select(
        "source",
        "n_docs",
        r6(F.col("quota_rate")).alias("quota_rate"),
        "n_kept",
        "sel_rate",
        "kept_chars",
    )


@query(
    "domain_quota_exact_trim",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    rated AS (
      SELECT source, n_docs,
             LEAST(1.0, 2.0 * {_QUOTA_CAP} / n_docs) AS cand_rate
      FROM counts
    ),
    cands AS (
      SELECT d.source, d.doc_id, d.n_chars,
             ('0x' || SUBSTR(MD5(CONCAT_WS('|', 'quota',
                CAST(d.doc_id AS VARCHAR))), 1, 6))::BIGINT
               / 16777216.0 AS coin
      FROM documents d JOIN rated r ON d.source = r.source
      WHERE ('0x' || SUBSTR(MD5(CONCAT_WS('|', 'quota',
               CAST(d.doc_id AS VARCHAR))), 1, 6))::BIGINT
              / 16777216.0 < r.cand_rate
    ),
    ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY coin, doc_id) AS rk
      FROM cands
    ),
    kept AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN rk <= {_QUOTA_CAP} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN rk <= {_QUOTA_CAP} THEN n_chars ELSE 0 END)
                  AS BIGINT) AS kept_chars
      FROM ranked GROUP BY source
    )
    SELECT r.source, r.n_docs, k.n_candidates, k.n_kept, k.kept_chars,
           CAST(CASE WHEN k.n_kept >= LEAST(r.n_docs, {_QUOTA_CAP})
                     THEN 1 ELSE 0 END AS INTEGER) AS quota_met
    FROM rated r JOIN kept k ON k.source = r.source
    """,
)
def domain_quota_exact_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L59: EXACT per-domain quota via oversample-then-trim — the scale
    pattern that recovers exact top-K semantics without L58's
    expected-size compromise OR a full per-domain sort: (1) map-side
    candidate pruning at 2x the quota rate (the deterministic md5 coin,
    as L58), (2) an exact rank WITHIN the candidate set only — the
    window partitioned per source now runs over O(cap) candidate rows
    per domain, not the domain's whole corpus, so the sort the naive
    plan would pay on billions of rows is paid on thousands. The census
    reports per source: corpus size, candidate count, exactly-kept
    count, kept char mass, and `quota_met` — the completeness check
    (candidates >= cap unless the whole domain is smaller): a 2x
    oversample misses the true quota only with Chernoff-small
    probability, and a production run re-pulls at a higher rate for any
    source with quota_met = 0 (none at the test SFs; the flag makes the
    bound observable rather than assumed). Keep-set is deterministic
    (coin, doc_id) order, identical across engines and runs.

    Charter training-data mandate; the exact-quota complement of L58's
    rate-based Bernoulli cap."""
    from ..functions.scalars import hash_unit_interval

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    rated = counts.select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0), F.lit(2.0 * _QUOTA_CAP) / F.col("n_docs")
        ).alias("cand_rate"),
    )
    coin = hash_unit_interval(F.lit("quota"), F.col("doc_id"))
    cands = (
        docs.join(F.broadcast(rated), "source")
        .withColumn("coin", coin)
        .filter(F.col("coin") < F.col("cand_rate"))
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy("coin", "doc_id")
    )
    ranked = cands.select("source", "n_docs", "n_chars", rk.alias("rk"))
    kept = ranked.groupBy("source", "n_docs").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum((F.col("rk") <= _QUOTA_CAP).cast("int"))
        .cast("long")
        .alias("n_kept"),
        F.sum(
            F.when(F.col("rk") <= _QUOTA_CAP, F.col("n_chars")).otherwise(0)
        )
        .cast("long")
        .alias("kept_chars"),
    )
    return kept.select(
        "source",
        "n_docs",
        "n_candidates",
        "n_kept",
        "kept_chars",
        (
            F.col("n_kept")
            >= F.least(F.col("n_docs"), F.lit(_QUOTA_CAP).cast("long"))
        )
        .cast("int")
        .alias("quota_met"),
    )


# ---------------------------------------------------------------------------
# L64 — Zipf rank-frequency fit (corpus-health diagnostic)
# ---------------------------------------------------------------------------

_ZIPF_FIT_K = 500  # ranks entering the log-log OLS fit


@query(
    "zipf_slope_census",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS tok FROM documents
    ),
    freq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM toks WHERE tok <> '' GROUP BY tok
    ),
    top AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r
      FROM freq QUALIFY r <= {_ZIPF_FIT_K}
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(LN(r)) AS sx, SUM(LN(f)) AS sy,
             SUM(LN(r) * LN(f)) AS sxy,
             SUM(LN(r) * LN(r)) AS sxx,
             SUM(LN(f) * LN(f)) AS syy
      FROM top
    ),
    tot AS (
      SELECT CAST(SUM(f) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_vocab,
             CAST(MAX(f) AS BIGINT) AS top1_n
      FROM freq
    )
    SELECT t.n_tokens, t.n_vocab, CAST(fit.n AS BIGINT) AS n_fit,
           ROUND((fit.n * fit.sxy - fit.sx * fit.sy)
                 / (fit.n * fit.sxx - fit.sx * fit.sx), 6) AS zipf_slope,
           ROUND((fit.sy - (fit.n * fit.sxy - fit.sx * fit.sy)
                           / (fit.n * fit.sxx - fit.sx * fit.sx) * fit.sx)
                 / fit.n, 6) AS zipf_intercept,
           ROUND(POWER(fit.n * fit.sxy - fit.sx * fit.sy, 2)
                 / ((fit.n * fit.sxx - fit.sx * fit.sx)
                    * (fit.n * fit.syy - fit.sy * fit.sy)), 6) AS r2,
           ROUND(CAST(t.top1_n AS DOUBLE) / t.n_tokens, 6) AS top1_share
    FROM fit CROSS JOIN tot t
    """,
)
def zipf_slope_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L64: Zipf rank-frequency fit — the corpus-health diagnostic every
    large text pipeline runs after ingest/dedup changes: natural text
    follows freq ∝ rank^s with s ≈ -1 in log-log space, and a corpus
    whose fitted slope drifts (boilerplate flooding flattens the head,
    over-aggressive dedup steepens it) or whose r² collapses (template
    corpora) is flagged before training sees it. OLS of ln(freq) on
    ln(rank) over the top-500 ranks, plus the head-mass share of the
    rank-1 token.

    Tie-robust by construction: only the (rank, frequency) PAIRS enter
    the fit, and equal-frequency tokens permuted differently by the two
    engines contribute identical pairs — token identity never reaches
    the regression. Scale: one token-frequency aggregate (linear, one
    shuffle), a TakeOrderedAndProject top-500 (never a global sort),
    and the rank window runs AFTER the limit on a 500-row bounded
    frame; the totals are scalar aggregates. Reference anchor: the
    distributional-health gate shape of etl/data_validator.py applied
    to the charter's corpus mandate."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    top = freq.orderBy(F.desc("f"), F.asc("tok")).limit(_ZIPF_FIT_K)
    w = Window.orderBy(F.desc("f"), F.asc("tok"))
    lr = (
        top.withColumn("r", F.row_number().over(w))
        .select(
            F.log(F.col("r").cast("double")).alias("lx"),
            F.log(F.col("f").cast("double")).alias("ly"),
        )
    )
    fit = lr.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    tot = freq.agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.max("f").cast("long").alias("top1_n"),
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return fit.crossJoin(F.broadcast(tot)).select(
        "n_tokens",
        "n_vocab",
        F.col("n").cast("long").alias("n_fit"),
        r6(slope).alias("zipf_slope"),
        r6(
            (F.col("sy") - slope * F.col("sx")) / F.col("n")
        ).alias("zipf_intercept"),
        r6(
            F.pow(
                F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
                F.lit(2),
            )
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("r2"),
        r6(
            F.col("top1_n").cast("double") / F.col("n_tokens")
        ).alias("top1_share"),
    )


# ---------------------------------------------------------------------------
# L66 — count-min sketch frequency estimation (mergeable heavy-hitter path)
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 64  # buckets per row
_CMS_PROBE_K = 20  # exact heavy hitters probed against the sketch


@query(
    "cms_frequency_estimates",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS tok FROM documents
    ),
    occ AS (SELECT tok FROM toks WHERE tok <> ''),
    cells AS (
      SELECT s.s AS cms_seed,
             ('0x' || SUBSTR(MD5(CAST(s.s AS VARCHAR) || '|' || tok), 1, 8))
               ::BIGINT % {_CMS_W} AS cms_cell
      FROM occ, (SELECT UNNEST(RANGE(0, {_CMS_D})) AS s) s
    ),
    sketch AS (
      SELECT cms_seed, cms_cell, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cells GROUP BY 1, 2
    ),
    freq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM occ GROUP BY tok
    ),
    probe AS (
      SELECT tok, true_n,
             ROW_NUMBER() OVER (ORDER BY true_n DESC, tok) AS r
      FROM freq QUALIFY r <= {_CMS_PROBE_K}
    ),
    pcells AS (
      SELECT p.tok, p.true_n, s.s AS cms_seed,
             ('0x' || SUBSTR(MD5(CAST(s.s AS VARCHAR) || '|' || p.tok),
                             1, 8))::BIGINT % {_CMS_W} AS cms_cell
      FROM probe p, (SELECT UNNEST(RANGE(0, {_CMS_D})) AS s) s
    ),
    est AS (
      SELECT pc.tok, pc.true_n, MIN(sk.cnt) AS est_n
      FROM pcells pc
      JOIN sketch sk ON sk.cms_seed = pc.cms_seed
                    AND sk.cms_cell = pc.cms_cell
      GROUP BY pc.tok, pc.true_n
    )
    SELECT tok, true_n, est_n,
           est_n - true_n AS overestimate,
           ROUND(CAST(est_n - true_n AS DOUBLE) / true_n, 6) AS rel_error
    FROM est
    """,
)
def cms_frequency_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L66: count-min sketch ({_CMS_D}x{_CMS_W}) frequency estimation —
    the MERGEABLE heavy-hitter path beside L17's exact census and L46's
    quantile sketch: the sketch is a fixed 4x64 grid of counters whose
    merge is cell-wise addition, so map-side partial sketches combine
    with network cost INDEPENDENT of corpus size (the same
    constant-state shape as R163's mergeable rollup, applied to token
    frequencies). The exact top-20 tokens are then probed against the
    sketch: est = min over the 4 rows of the token's cell counts, and
    the census reports the per-token overestimate — the CMS guarantee
    (est >= true ALWAYS; collisions only inflate) is an output
    invariant both engines must reproduce cell-exactly, since the
    md5-derived cell arithmetic is the repo's portable hashing idiom.

    Scale: one linear pass fans each occurrence to 4 (seed, cell)
    pairs; the aggregate is bounded at 256 cells by CONSTRUCTION (the
    whole point of the sketch); the probe join attaches a 256-row frame
    to 20 tokens. At 100 TB the sketch is the only thing that crosses
    the network."""
    docs = load_table(spark, sf_dir, "documents")
    occ = (
        docs.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
    )

    def cell(tok_col, s: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(str(s)), tok_col)), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    cells = occ.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("cms_seed"),
                        cell(F.col("tok"), s).alias("cms_cell"),
                    )
                    for s in range(_CMS_D)
                ]
            )
        ).alias("sc")
    ).select("sc.cms_seed", "sc.cms_cell")
    sketch = cells.groupBy("cms_seed", "cms_cell").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    probe = (
        occ.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("tok"))
        .limit(_CMS_PROBE_K)
    )
    pcells = probe.select(
        "tok",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("cms_seed"),
                        cell(F.col("tok"), s).alias("cms_cell"),
                    )
                    for s in range(_CMS_D)
                ]
            )
        ).alias("sc"),
    ).select("tok", "true_n", "sc.cms_seed", "sc.cms_cell")
    est = (
        pcells.join(sketch, ["cms_seed", "cms_cell"])
        .groupBy("tok", "true_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    return est.select(
        "tok",
        "true_n",
        "est_n",
        (F.col("est_n") - F.col("true_n")).alias("overestimate"),
        r6(
            (F.col("est_n") - F.col("true_n")).cast("double")
            / F.col("true_n")
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# L69 — exact WEIGHTED quantiles (token-weighted document length)
# ---------------------------------------------------------------------------


@query(
    "weighted_length_quantiles",
    oracle="""
    WITH s AS (
      SELECT source, n_chars,
             CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
                               t -> t <> '')) AS BIGINT) AS w
      FROM documents
    ),
    g AS (
      SELECT source, n_chars, SUM(w) AS w
      FROM s GROUP BY source, n_chars
    ),
    c AS (
      SELECT source, n_chars, w,
             SUM(w) OVER (PARTITION BY source ORDER BY n_chars) AS cw,
             SUM(w) OVER (PARTITION BY source) AS tw
      FROM g
    )
    SELECT source,
           CAST(MIN(CASE WHEN 4 * cw >= tw THEN n_chars END) AS BIGINT)
             AS w_p25,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN n_chars END) AS BIGINT)
             AS w_p50,
           CAST(MIN(CASE WHEN 4 * cw >= 3 * tw THEN n_chars END) AS BIGINT)
             AS w_p75,
           CAST(MIN(tw) AS BIGINT) AS total_tokens
    FROM c GROUP BY source
    """,
)
def weighted_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L69: exact TOKEN-WEIGHTED document-length quantiles per source —
    the length statistics that actually govern a training pipeline are
    weighted by contribution, not by document count: half the TOKENS
    sit above the weighted median, which for long-tailed web text can
    be far above the unweighted one (the packing/truncation planner
    that reads the unweighted quantile under-budgets exactly the
    documents that carry the corpus). Complements L46's mergeable
    UNWEIGHTED sketch with the exact weighted answer at the
    (source, length) grain.

    Exact-arithmetic quantile crossing: the cumulative weight is
    compared against the total in INTEGERS (4*cw >= tw etc.), so no
    float threshold can flip between engines. Scale: one aggregate to
    the (source, n_chars) grain — the window then runs over that grain
    (lengths per source, not documents), partitioned by source; never a
    global or per-document sort."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "source",
        "n_chars",
        F.size(
            F.filter(
                F.split(F.col("text"), r"\s+"), lambda t: t != ""
            )
        )
        .cast("long")
        .alias("w"),
    )
    g = s.groupBy("source", "n_chars").agg(F.sum("w").alias("w"))
    wcum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("source")
    c = g.select(
        "source",
        "n_chars",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    return c.groupBy("source").agg(
        F.min(
            F.when(4 * F.col("cw") >= F.col("tw"), F.col("n_chars"))
        )
        .cast("long")
        .alias("w_p25"),
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("n_chars"))
        )
        .cast("long")
        .alias("w_p50"),
        F.min(
            F.when(4 * F.col("cw") >= 3 * F.col("tw"), F.col("n_chars"))
        )
        .cast("long")
        .alias("w_p75"),
        F.min("tw").cast("long").alias("total_tokens"),
    )
