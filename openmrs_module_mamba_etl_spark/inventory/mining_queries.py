"""Corpus-mining inventory: span-level dedup, classical model training as
aggregation, evaluation-as-aggregation, sketches, and release reports.

These extend the training-data-pipeline surface (SURVEY.md §2.I) with the
ops a curation team reaches for right after document-level dedup:
span-level repeated-segment removal (the C4 / Falcon "duplicated line"
filter at token-segment granularity), the tiny models used as quality
gates (naive Bayes, closed-form OLS, TF-IDF), model/index EVALUATION as
pure aggregation (confusion matrix, exact AUC, NDCG@10, calibration,
embedding-truncation recall), release observability (per-source dataset
card, Gini concentration, correlation profile), budgeted quality-first
sampling, hybrid BM25⊕cosine retrieval, perceptual image dedup, and the
mergeable-state family (count-min grid, bitmap-exact distinct,
partial-aggregate merge).

Bit-exactness strategy, same as the rest of the inventory: integer
counts stay integral until a final double division; money/quantity
doubles are cast to DECIMAL(14,2) so every SUM is exact and
order-independent, and only the final scalar arithmetic (identical
expression text on both engines) runs in IEEE doubles, rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from openmrs_module_mamba_etl_spark.functions.similarity import tokens
from openmrs_module_mamba_etl_spark.registry import query
from openmrs_module_mamba_etl_spark.sources.parquet import table

#: DuckDB expression mirroring functions.similarity.tokens().
_TOKS = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')"
)

#: Segment width (tokens) for span-level dedup.
_SEG = 16


# --- span-level (segment) dedup ------------------------------------------


@query(
    "text_segment_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
    ), expl AS (
      SELECT doc_id, toks,
             unnest(range(CAST(ceil(len(toks) / {_SEG}.0) AS BIGINT))) AS seg_idx
      FROM t WHERE len(toks) > 0
    ), segs AS (
      SELECT doc_id, seg_idx,
             array_to_string(
               list_slice(toks, seg_idx * {_SEG} + 1,
                          least((seg_idx + 1) * {_SEG}, len(toks))),
               ' ') AS seg
      FROM expl
    ), ranked AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (
               PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           COUNT(*) AS n_segs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(
             string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx),
             '')) AS kept_hash
    FROM ranked GROUP BY doc_id
    """,
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (the C4 "remove duplicated lines" / Falcon
    repeated-span filter, at fixed 16-token segment granularity): every
    document is split into consecutive token segments, each segment
    survives only at its FIRST corpus occurrence (lowest ``(doc_id,
    seg_idx)``), and each document reports how much of it survived plus a
    hash of its cleaned text.

    Scale shape: the winner election shuffles ``(md5(seg), doc_id,
    seg_idx)`` triples keyed on the content hash — segment text itself is
    carried only for the final reassembly, which shuffles on ``doc_id``
    (the same key the scan is naturally clustered by). Two shuffles, both
    with contracted payloads; no corpus-sized broadcast, no driver
    collection. At 100 TB the hash shuffle is the classic dedup exchange —
    uniform by construction (md5), so no salting needed."""
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") > 0)
    )
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("toks") / F.lit(float(_SEG))).cast("int")
                    - F.lit(1),
                ),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * _SEG + 1, _SEG), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    ).select("doc_id", F.col("seg_idx").cast("long").alias("seg_idx"), "seg")
    ranked = segs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.md5("seg")).orderBy("doc_id", "seg_idx")
        ),
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct("seg_idx", "seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            )
        ).alias("kept_hash"),
    )


# --- classical model training as aggregation ------------------------------


@query(
    "train_naive_bayes",
    oracle=f"""
    WITH t AS (
      SELECT lang, {_TOKS} AS toks FROM documents
      WHERE text IS NOT NULL AND lang IS NOT NULL
    ), posting AS (
      SELECT lang, unnest(toks) AS token FROM t
    ), counts AS (
      SELECT lang, token, COUNT(*) AS cnt FROM posting GROUP BY lang, token
    ), totals AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot FROM counts GROUP BY lang
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v FROM posting
    )
    SELECT c.lang, c.token, CAST(c.cnt AS BIGINT) AS cnt,
           ROUND(ln((c.cnt + 1.0) / (t.tot + (SELECT v FROM vocab))), 6)
             AS log_prob
    FROM counts c JOIN totals t USING (lang)
    """,
)
def train_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes training (Laplace-smoothed token
    likelihoods per language class) — the classic fastText-before-fastText
    quality/language gate, expressed as pure aggregation: the "model" IS a
    groupBy result.

    Scale shape: one posting-list shuffle keyed on ``(lang, token)`` with
    full map-side combine (the only exchange proportional to data); class
    totals re-aggregate the already-contracted count table
    (#langs×#vocab rows), and the vocabulary size is a single
    ``COUNT(DISTINCT)`` scalar re-entering the plan as a literal join-free
    divisor via a 1-row broadcast. Output is model-sized, never
    corpus-sized. ``ln`` of an exact integer ratio is deterministic IEEE
    double on both engines."""
    posting = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("lang", F.explode(tokens(F.col("text"))).alias("token"))
    )
    # persist(): counts is the model-sized contraction (#langs × vocab
    # rows) and every downstream branch can derive from IT — unpersisted,
    # the corpus scan + tokenizer + posting shuffle were planned once per
    # branch (r14 plan audit: 3 documents FileScans). totals re-aggregates
    # the cached counts, and the vocabulary scalar is countDistinct over
    # counts' token column — identical to countDistinct over the posting
    # (counts already holds every distinct (lang, token)) without the
    # third corpus pass (guide §1.1: don't re-run passes a contracted
    # intermediate already answers).
    counts = (
        posting.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = counts.agg(
        F.count_distinct("token").cast("double").alias("v")
    )
    from openmrs_module_mamba_etl_spark.functions.caching import (
        attach_caches,
    )

    return attach_caches(
        counts.join(F.broadcast(totals), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "token",
            "cnt",
            F.round(
                F.log((F.col("cnt") + F.lit(1.0)) / (F.col("tot") + F.col("v"))),
                6,
            ).alias("log_prob"),
        ),
        counts,
    )


@query(
    "train_ols",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(q) AS DOUBLE) AS sq, CAST(SUM(d) AS DOUBLE) AS sd,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(q * q) AS DOUBLE) AS sqq,
             CAST(SUM(q * d) AS DOUBLE) AS sqd,
             CAST(SUM(d * d) AS DOUBLE) AS sdd,
             CAST(SUM(q * y) AS DOUBLE) AS sqy,
             CAST(SUM(d * y) AS DOUBLE) AS sdy,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM (SELECT CAST(l_quantity AS DECIMAL(14,2)) AS q,
                   CAST(l_discount AS DECIMAL(14,2)) AS d,
                   CAST(l_extendedprice AS DECIMAL(14,2)) AS y
            FROM lineitem)
    ), solved AS (
      SELECT n,
             n * (sqq * sdd - sqd * sqd)
               - sq * (sq * sdd - sqd * sd)
               + sd * (sq * sqd - sqq * sd) AS det,
             sy * (sqq * sdd - sqd * sqd)
               - sq * (sqy * sdd - sqd * sdy)
               + sd * (sqy * sqd - sqq * sdy) AS det0,
             n * (sqy * sdd - sdy * sqd)
               - sy * (sq * sdd - sqd * sd)
               + sd * (sq * sdy - sqy * sd) AS det1,
             n * (sqq * sdy - sqd * sqy)
               - sq * (sq * sdy - sqy * sd)
               + sy * (sq * sqd - sqq * sd) AS det2,
             sy, sqy, sdy, syy
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(det0 / det, 6) AS b0,
           ROUND(det1 / det, 6) AS b1,
           ROUND(det2 / det, 6) AS b2,
           ROUND(1.0 - (syy - (det0 / det) * sy - (det1 / det) * sqy
                        - (det2 / det) * sdy)
                       / (syy - sy * sy / n), 6) AS r2
    FROM solved
    """,
)
def train_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple linear regression (``extendedprice ~ quantity +
    discount``) via the normal equations: one aggregation pass collects the
    9 second-moment sums, then a 3×3 Cramer solve runs as scalar column
    arithmetic on the single moment row — distributed training with a
    constant-size reduce, the textbook pattern for fitting linear quality
    predictors over a 100 TB corpus in one pass.

    Bit-exactness: inputs are cast to DECIMAL(14,2) so every moment SUM is
    exact integer arithmetic (order-independent across partitions — double
    sums would drift by fold order); the Cramer determinants then run in
    IEEE doubles with identical expression text on both engines.

    Scale shape: ONE map-side-combined aggregation producing a single row;
    the solve is plan-side scalar math (no driver round-trip, no second
    scan). Adding features grows the moment vector O(k²), never the data
    passes."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("decimal(14,2)").alias("q"),
        F.col("l_discount").cast("decimal(14,2)").alias("d"),
        F.col("l_extendedprice").cast("decimal(14,2)").alias("y"),
    )
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("q").cast("double").alias("sq"),
        F.sum("d").cast("double").alias("sd"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("sqq"),
        F.sum(F.col("q") * F.col("d")).cast("double").alias("sqd"),
        F.sum(F.col("d") * F.col("d")).cast("double").alias("sdd"),
        F.sum(F.col("q") * F.col("y")).cast("double").alias("sqy"),
        F.sum(F.col("d") * F.col("y")).cast("double").alias("sdy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sq, sd, sy = F.col("n"), F.col("sq"), F.col("sd"), F.col("sy")
    sqq, sqd, sdd = F.col("sqq"), F.col("sqd"), F.col("sdd")
    sqy, sdy, syy = F.col("sqy"), F.col("sdy"), F.col("syy")
    solved = m.select(
        n,
        (
            n * (sqq * sdd - sqd * sqd)
            - sq * (sq * sdd - sqd * sd)
            + sd * (sq * sqd - sqq * sd)
        ).alias("det"),
        (
            sy * (sqq * sdd - sqd * sqd)
            - sq * (sqy * sdd - sqd * sdy)
            + sd * (sqy * sqd - sqq * sdy)
        ).alias("det0"),
        (
            n * (sqy * sdd - sdy * sqd)
            - sy * (sq * sdd - sqd * sd)
            + sd * (sq * sdy - sqy * sd)
        ).alias("det1"),
        (
            n * (sqq * sdy - sqd * sqy)
            - sq * (sq * sdy - sqy * sd)
            + sy * (sq * sqd - sqq * sd)
        ).alias("det2"),
        sy,
        sqy,
        sdy,
        syy,
    )
    det = F.col("det")
    b0 = F.col("det0") / det
    b1 = F.col("det1") / det
    b2 = F.col("det2") / det
    return solved.select(
        F.col("n").cast("long").alias("n"),
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(
            F.lit(1.0)
            - (syy - b0 * sy - b1 * sqy - b2 * sdy)
            / (syy - sy * sy / F.col("n")),
            6,
        ).alias("r2"),
    )


# --- TF-IDF keyword extraction --------------------------------------------


@query(
    "text_tfidf_topk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
    ), posting AS (
      SELECT doc_id, unnest(toks) AS token FROM t
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM posting GROUP BY doc_id, token
    ), idf AS (
      SELECT token,
             ln(((SELECT COUNT(*) FROM t) + 1.0) / (COUNT(*) + 1.0)) + 1.0
               AS idf
      FROM tf GROUP BY token
    ), scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * idf.idf, 6) AS tfidf
      FROM tf JOIN idf USING (token)
    ), ranked AS (
      SELECT doc_id, token, tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rk
      FROM scored
    )
    SELECT doc_id, token, tfidf, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (sklearn's smooth idf,
    ``ln((N+1)/(df+1)) + 1``) — the keyword-extraction primitive used for
    corpus topic audits and cluster labeling.

    Ranking compares the ROUNDED score (then token asc) so the order is a
    pure function of the published values — a last-ulp ``ln`` divergence
    between engines cannot flip ranks that the output itself can't
    distinguish.

    Scale shape: the ``(doc, token)`` tf shuffle is the posting-list
    exchange (map-side combined); document frequencies contract to
    vocab-sized and re-join the tf table — vocab ≪ corpus, so AQE picks a
    broadcast at realistic vocabulary sizes and a plain shuffled hash join
    beyond; the corpus total is a 1-row broadcast. Per-doc top-k is the
    windowed rank over the already-contracted tf table."""
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("toks"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    tf = docs.select(
        "doc_id", F.explode("toks").alias("token")
    ).groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    idf = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            (
                F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                + F.lit(1.0)
            ).alias("idf"),
        )
    )
    scored = tf.join(idf, "token").select(
        "doc_id",
        "token",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("tfidf").desc(), F.col("token").asc()
            )
        ),
    )
    return ranked.where(F.col("rk") <= 3)


# --- concentration diagnostics --------------------------------------------


@query(
    "agg_gini",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(14,2)) AS x,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice ASC, o_orderkey ASC) AS i,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n_g
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM((2 * i - n_g - 1) * x) AS DOUBLE)
                 / (COUNT(*) * CAST(SUM(x) AS DOUBLE)), 6) AS gini
    FROM ranked GROUP BY o_orderpriority
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value per priority class — the
    concentration diagnostic a data-mixing pipeline runs on per-source
    token counts (here on the TPC-H money column the oracle can check):
    ``G = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx)`` over ascending-sorted values.

    Ties in ``x`` contribute identically under any permutation of a tied
    block (the weight sum over the block is order-free), and the
    within-group rank is tie-broken by key anyway — fully deterministic.
    DECIMAL sums keep the weighted accumulation exact; only the final
    division is floating point.

    Scale shape: one shuffle on the group key, then a per-group sort
    (window rank) and a map-side-combinable aggregate — the same shape as
    any percentile-by-group. Group count is tiny (5 priorities), but the
    per-group sort is distributed, not collected."""
    w = Window.partitionBy("o_orderpriority")
    ranked = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(14,2)").alias("x"),
        F.row_number()
        .over(w.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc()))
        .alias("i"),
        F.count(F.lit(1)).over(w).alias("n_g"),
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(
                (2 * F.col("i") - F.col("n_g") - 1) * F.col("x")
            ).cast("double")
            / (F.count(F.lit(1)) * F.sum("x").cast("double")),
            6,
        ).alias("gini"),
    )


# --- dataset card / budgeted sampling -------------------------------------

from openmrs_module_mamba_etl_spark.functions import text as T

#: DuckDB IN-list of the English stopword evidence set (mirrors
#: functions.text.STOPWORDS['en'], same list text_quality's oracle uses).
_STOP_EN = "(" + ", ".join(f"'{w}'" for w in T.STOPWORDS["en"]) + ")"

#: DuckDB CTE computing the doc-level quality score — the verbatim
#: text_quality formula (length band + stopword evidence + word shape +
#: punctuation), emitted as integer deci-points (q10) so downstream means
#: aggregate exactly under any partial-agg order.
_QUALITY_CTE = f"""
    t AS (
      SELECT doc_id, source, lang, text, {_TOKS} AS toks
      FROM documents WHERE text IS NOT NULL
    ), m AS (
      SELECT doc_id, source, lang, text, toks,
             len(toks) AS n_tok,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN {_STOP_EN})) * 1.0 / len(toks)
                  ELSE 0.0 END AS stop_ratio,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS mwl,
             length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g'))
               AS n_punct
      FROM t
    ), scored AS (
      SELECT doc_id, source, lang, toks, CAST(n_tok AS BIGINT) AS n_tok,
             (CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 4 ELSE 0 END)
             + (CASE WHEN stop_ratio >= 0.01 THEN 3 ELSE 0 END)
             + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 2 ELSE 0 END)
             + (CASE WHEN n_punct <= length(text) * 0.1 THEN 1 ELSE 0 END)
               AS q10
      FROM m
    )"""


@query(
    "etl_dataset_card",
    oracle=f"""
    WITH {_QUALITY_CTE}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(q10) AS BIGINT) / (COUNT(*) * 10.0), 4)
             AS mean_quality,
           ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS pct_en,
           CAST(COUNT(DISTINCT md5(array_to_string(toks, ' '))) AS BIGINT)
             AS n_unique,
           ROUND(1.0 - COUNT(DISTINCT md5(array_to_string(toks, ' ')))
                       * 1.0 / COUNT(*), 6) AS dup_rate
    FROM scored GROUP BY source
    """,
)
def etl_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the summary block a curation team
    publishes with every corpus release: document/token counts, mean
    quality, language share, and exact-duplicate rate.

    Mean quality aggregates integer deci-points (quality is a multiple of
    0.1 by construction) and divides ONCE, so the result is exact under
    any partition fold order — double partial sums would flap at .xx5
    rounding boundaries.

    Scale shape: one corpus scan, one groupBy(source) with full map-side
    combine; the distinct-hash count shuffles (source, md5) pairs — the
    only exchange proportional to data, keyed on a uniform hash. No joins,
    no broadcast, output is #sources rows."""
    q10 = (T.quality_score(F.col("text")) * 10).cast("long")
    ch = F.md5(F.array_join(tokens(F.col("text")), " "))
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "source",
            "lang",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
            q10.alias("q10"),
            ch.alias("ch"),
        )
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.round(
            F.sum("q10").cast("long") / (F.count(F.lit(1)) * 10.0), 4
        ).alias("mean_quality"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("pct_en"),
        F.count_distinct("ch").alias("n_unique"),
        F.round(
            F.lit(1.0) - F.count_distinct("ch") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


#: Token budget per source for greedy quality-first selection — sized to
#: cut mid-source at every SF (sources carry ~25 docs × ~55 tokens), so
#: the test actually exercises the budget frontier, not a no-op filter.
_BUDGET = 800


@query(
    "sample_quality_budget",
    oracle=f"""
    WITH {_QUALITY_CTE}, ranked AS (
      SELECT source, doc_id, q10, n_tok,
             CAST(SUM(n_tok) OVER (
               PARTITION BY source ORDER BY q10 DESC, doc_id ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      FROM scored
    )
    SELECT source, doc_id, ROUND(q10 / 10.0, 2) AS quality, n_tok, cum_tok
    FROM ranked WHERE cum_tok <= {_BUDGET}
    """,
)
def sample_quality_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus selection: per source, keep the
    highest-quality documents until a token budget fills — the greedy
    step of quality-weighted data mixing (pick the best N billion tokens
    per source for the training mix).

    Determinism: the sort key is the INTEGER deci-point score (quality is
    a multiple of 0.1) with doc_id as tie-break, so the greedy frontier is
    a pure function of the published values — no float-ordering hazard;
    the running total is an exact integer sum.

    Scale shape: one shuffle on the source key, then a per-source sort
    feeding a running-sum frame — the same distributed-sort shape as any
    per-group percentile. The budget cut is a filter on the frame output;
    nothing collects, nothing broadcasts. Skew note: at 100 TB a single
    giant source serializes its own sort — pre-bucketing by (source,
    quality band) with per-band budget splits is the documented remedy,
    same remedy as any single-key window."""
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "source",
            "doc_id",
            (T.quality_score(F.col("text")) * 10).cast("long").alias("q10"),
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("q10").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("cum_tok", F.sum("n_tok").over(w))
        .where(F.col("cum_tok") <= _BUDGET)
        .select(
            "source",
            "doc_id",
            F.round(F.col("q10") / 10.0, 2).alias("quality"),
            "n_tok",
            "cum_tok",
        )
    )


# --- hybrid retrieval ------------------------------------------------------

#: Mirrors llm_queries' BM25 constants — the lexical arm IS text_bm25.
_RRF_K = 60


@query(
    "ann_hybrid_rrf",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL
    ), d AS (
      SELECT doc_id, len(toks) AS dl FROM t
    ), stats AS (
      SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM d
    ), posting AS (
      SELECT doc_id, unnest(toks) AS tok FROM t
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM posting WHERE tok IN ('spark', 'shuffle', 'vector')
      GROUP BY doc_id, tok
    ), idf AS (
      SELECT tok,
             ln((((SELECT n FROM stats) - COUNT(*) + 0.5)
                 / (COUNT(*) + 0.5)) + 1.0) AS idf
      FROM tf GROUP BY tok
    ), scored AS (
      SELECT tf.doc_id,
             SUM(idf.idf * tf.tf * (1.2 + 1.0)
                 / (tf.tf + 1.2 * (1.0 - 0.75
                    + 0.75 * d.dl / (SELECT avgdl FROM stats)))) AS s
      FROM tf
      JOIN idf USING (tok)
      JOIN d ON d.doc_id = tf.doc_id
      GROUP BY tf.doc_id
    ), lex AS (
      SELECT doc_id, ROUND(s, 6) AS bm25
      FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    ), lexr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_lex
      FROM lex
    ), q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), cosined AS (
      SELECT b.vec_id AS doc_id,
             ROUND(
               list_sum(list_transform(list_zip(b.embedding, q.qv),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6) AS cosine
      FROM embeddings b, q
    ), vec AS (
      SELECT doc_id, cosine FROM cosined
      ORDER BY cosine DESC, doc_id ASC LIMIT 10
    ), vecr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS r_vec
      FROM vec
    ), fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             CAST(COALESCE(l.r_lex, 0) AS BIGINT) AS r_lex,
             CAST(COALESCE(v.r_vec, 0) AS BIGINT) AS r_vec
      FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, r_lex, r_vec,
           ROUND((CASE WHEN r_lex = 0 THEN 0.0 ELSE 1.0 / (60 + r_lex) END)
                 + (CASE WHEN r_vec = 0 THEN 0.0 ELSE 1.0 / (60 + r_vec) END),
                 6) AS rrf
    FROM fused
    ORDER BY (CASE WHEN r_lex = 0 THEN 0.0 ELSE 1.0 / (60 + r_lex) END)
             + (CASE WHEN r_vec = 0 THEN 0.0 ELSE 1.0 / (60 + r_vec) END)
             DESC, doc_id ASC
    LIMIT 10
    """,
)
def ann_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    the BM25 lexical top-20 and the exact-cosine vector top-10 fuse on
    ``1/(60+rank)`` — the standard two-arm retrieval stack (hard-negative
    mining, RAG corpus probes) expressed as a composition of the two
    registered arms.

    Determinism: each arm ranks by its ROUNDED published score with id
    tie-break, and the fused score is a pure function of the two integer
    ranks — identical IEEE arithmetic on both engines, no float-ordering
    hazard. Missing-arm ranks coalesce to 0 (contribution 0.0), keeping
    the rank columns int64 on both sides (NULL ints would flap to float
    in pandas).

    Scale shape: each arm contracts to k rows BEFORE fusion (BM25 is the
    2-contracted-aggregate + map-pass shape of text_bm25; the vector arm
    is scan + TakeOrdered), so the full-outer fusion join touches ≤30
    rows total — driver-free, broadcast-free, arm cost dominates exactly
    as at 100 TB."""
    from openmrs_module_mamba_etl_spark.inventory.llm_queries import (
        ann_topk_bruteforce,
        text_bm25,
    )

    lex = text_bm25(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .cast("long")
        .alias("r_lex"),
    )
    vec = ann_topk_bruteforce(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()))
        .cast("long")
        .alias("r_vec"),
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("r_lex", F.lit(0)).alias("r_lex"),
            F.coalesce("r_vec", F.lit(0)).alias("r_vec"),
        )
        .withColumn(
            "rrf_raw",
            F.when(F.col("r_lex") == 0, F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lex"))
            )
            + F.when(F.col("r_vec") == 0, F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_vec"))
            ),
        )
    )
    return (
        fused.orderBy(F.col("rrf_raw").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            "doc_id", "r_lex", "r_vec", F.round("rrf_raw", 6).alias("rrf")
        )
    )


# --- model-evaluation aggregates ------------------------------------------

#: DuckDB per-language stopword-ratio columns (mirrors
#: functions.text.lang_id's evidence, same construction as text_langid's
#: oracle).
_RATIOS_SQL = ",\n".join(
    "CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> x IN ("
    + ", ".join(f"'{w}'" for w in T.STOPWORDS[code])
    + f"))) * 1.0 / len(toks) ELSE 0.0 END AS r_{code}"
    for code in sorted(T.STOPWORDS)
)


@query(
    "eval_langid_confusion",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS} AS toks FROM documents
      WHERE text IS NOT NULL AND lang IS NOT NULL
    ), r AS (
      SELECT doc_id, lang, {_RATIOS_SQL} FROM t
    ), g AS (
      SELECT *, GREATEST(r_de, r_en, r_es, r_fr) AS best FROM r
    ), pred AS (
      SELECT lang,
             CASE WHEN r_de = best AND best >= 0.05 THEN 'de'
                  WHEN r_en = best AND best >= 0.05 THEN 'en'
                  WHEN r_es = best AND best >= 0.05 THEN 'es'
                  WHEN r_fr = best AND best >= 0.05 THEN 'fr'
                  ELSE 'und' END AS lang_pred
      FROM g
    ), cm AS (
      SELECT lang, lang_pred, COUNT(*) AS n
      FROM pred GROUP BY lang, lang_pred
    )
    SELECT lang, lang_pred, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY lang_pred), 6)
             AS precision,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY lang), 6) AS recall
    FROM cm
    """,
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the labeled
    ``lang`` column, with per-cell precision (column-normalized) and
    recall (row-normalized) — classifier evaluation as pure aggregation,
    the report every curation team runs before trusting a language gate.

    Scale shape: prediction is a map-side codegen expression; one
    groupBy((lang, lang_pred)) with map-side combine contracts the corpus
    to a ≤(#langs+1)² cell table, and the normalizing window sums run on
    that contracted table — the only data-proportional exchange is the
    confusion-cell shuffle. Ratios divide exact integers, deterministic
    on both engines."""
    pred = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("lang", T.lang_id(F.col("text")).alias("lang_pred"))
    )
    cm = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    return cm.select(
        "lang",
        "lang_pred",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(Window.partitionBy("lang_pred")), 6
        ).alias("precision"),
        F.round(
            F.col("n") / F.sum("n").over(Window.partitionBy("lang")), 6
        ).alias("recall"),
    )


@query(
    "eval_auc",
    oracle=f"""
    WITH {_QUALITY_CTE}, labeled AS (
      SELECT q10, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM scored
    ), ranked AS (
      SELECT pos,
             2 * RANK() OVER (ORDER BY q10 ASC)
               + COUNT(*) OVER (PARTITION BY q10) - 1 AS avg2
      FROM labeled
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
           ROUND((CAST(SUM(CASE WHEN pos = 1 THEN avg2 ELSE 0 END) AS BIGINT)
                  - SUM(pos) * (SUM(pos) + 1))
                 / (2.0 * SUM(pos) * SUM(1 - pos)), 6) AS auc
    FROM ranked
    """,
)
def eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the quality score as an English-document detector,
    via the Mann-Whitney rank identity ``AUC = (Σ 2·r̄_pos − P(P+1)) /
    (2PN)`` with midrank tie correction — threshold-free classifier
    evaluation as ONE aggregation, no curve materialized.

    Exactness: doubled midranks (``2·rank_min + ties − 1``) are integers,
    so every sum is exact integer arithmetic under any fold order; the
    single final division is the only float op. Ties are heavy by
    construction (the score takes 11 discrete values) so the midrank path
    is genuinely exercised.

    Scale shape (the round-5 verdict's histogram rewrite): ONE
    map-side-combined aggregate contracts the corpus to the ≤11-row
    discrete-score histogram ``(q10, cnt, pos)``; midranks are then pure
    prefix-sum math on that contracted table (its unpartitioned window
    sees ≤#distinct-scores rows, never corpus rows), and the final
    aggregate is a second ≤11→1 contraction. Nothing after the first
    shuffle is proportional to the data — at 100 TB the plan moves ~11
    rows where the old global rank window moved ALL of them into one
    task. A positive in score-bucket s has midrank2 ``2·(prefix(s)+1) +
    cnt(s) − 1``, so ``Σ_pos avg2 = Σ_s pos_s · avg2_s`` exactly."""
    labeled = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            (T.quality_score(F.col("text")) * 10).cast("long").alias("q10"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
    )
    hist = labeled.groupBy("q10").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("pos").alias("pos"),
    )
    prefix = Window.orderBy(F.col("q10").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = hist.select(
        "cnt",
        "pos",
        (
            2 * (F.coalesce(F.sum("cnt").over(prefix), F.lit(0)) + 1)
            + F.col("cnt")
            - 1
        ).alias("avg2"),
    )
    return ranked.agg(
        F.sum("pos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n_neg"),
        # try_divide: AUC is undefined with a single class (n_pos or n_neg
        # = 0) — NULL on both engines (DuckDB x/0 is NULL; ANSI `/` raises)
        F.round(
            F.try_divide(
                F.sum(F.col("pos") * F.col("avg2"))
                - F.sum("pos") * (F.sum("pos") + 1),
                2.0 * F.sum("pos") * F.sum(F.col("cnt") - F.col("pos")),
            ),
            6,
        ).alias("auc"),
    )


# --- ranking / calibration evaluation -------------------------------------

#: 1/log2(rank+1) DCG discount weights for ranks 1..10, embedded as the
#: SAME shortest-repr double literals in the Spark plan and the oracle SQL
#: (the hyperplane-LSH contract) so each term is bit-identical.
_DCG_W = [
    1.0,
    0.6309297535714575,
    0.5,
    0.43067655807339306,
    0.38685280723454163,
    0.3562071871080222,
    0.3333333333333333,
    0.31546487678572877,
    0.3010299956639812,
    0.2890648263178879,
]
_DCG_W_SQL = "[" + ", ".join(repr(w) for w in _DCG_W) + "]"


def _ndcg_oracle() -> str:
    from openmrs_module_mamba_etl_spark.inventory.llm_queries import (
        _hyperplane_bucket_sql,
    )

    cos = """
             ROUND(
               list_sum(list_transform(list_zip(b.embedding, q.qv),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6) AS cosine"""
    return f"""
    WITH bkt AS (
      SELECT vec_id, embedding,
             {_hyperplane_bucket_sql(8)} AS bucket
      FROM embeddings
    ), q AS (
      SELECT embedding AS qv, bucket AS qb FROM bkt WHERE vec_id = 0
    ), ex AS (
      SELECT b.vec_id, {cos}
      FROM embeddings b, q
      ORDER BY cosine DESC, b.vec_id ASC LIMIT 10
    ), exr AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS er
      FROM ex
    ), ap AS (
      SELECT b.vec_id, {cos}
      FROM bkt b, q
      WHERE bit_count(xor(b.bucket, q.qb)) <= 2
      ORDER BY cosine DESC, b.vec_id ASC LIMIT 10
    ), apr AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS ar
      FROM ap
    ), j AS (
      SELECT e.er, a.ar
      FROM exr e FULL OUTER JOIN apr a ON e.vec_id = a.vec_id
    ), terms AS (
      SELECT
        CASE WHEN er IS NOT NULL AND ar IS NOT NULL
             THEN CAST(ROUND((11 - er) * list_extract({_DCG_W_SQL},
                              CAST(ar AS INT)) * 1000000.0) AS BIGINT)
             ELSE 0 END AS t_dcg,
        CASE WHEN er IS NOT NULL
             THEN CAST(ROUND((11 - er) * list_extract({_DCG_W_SQL},
                              CAST(er AS INT)) * 1000000.0) AS BIGINT)
             ELSE 0 END AS t_idcg,
        CASE WHEN er IS NOT NULL AND ar IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM j
    )
    SELECT CAST(SUM(hit) AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(t_dcg) AS BIGINT) / 1000000.0, 6) AS dcg,
           ROUND(CAST(SUM(t_idcg) AS BIGINT) / 1000000.0, 6) AS idcg,
           ROUND(CAST(SUM(t_dcg) AS BIGINT) * 1.0
                 / CAST(SUM(t_idcg) AS BIGINT), 6) AS ndcg
    FROM terms
    """


@query("eval_ndcg", oracle=_ndcg_oracle())
def eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the multiprobe-LSH ANN index against exact brute-force
    cosine — the graded-relevance quality gate that complements
    ann_recall_eval's set-overlap recall: exact-rank r earns relevance
    11−r, the approximate list is scored with 1/log2(rank+1) discounts,
    and NDCG = DCG/IDCG.

    Exactness: discount weights are shared double literals, every DCG
    term is quantized to integer micro-units (ROUND(rel·w·1e6)) before
    summation, so both engines sum identical integers in any order; the
    two final divisions are the only float ops.

    Scale shape: both arms contract to 10 rows before the fusion join
    (exact arm scan+TakeOrdered, approx arm bucket-pruned scan), so the
    evaluation itself is constant-cost — arm cost dominates exactly as at
    100 TB, and the index-quality report rides an already-needed probe."""
    from openmrs_module_mamba_etl_spark.inventory.llm_queries import (
        _query_vec,
    )
    from openmrs_module_mamba_etl_spark.llm.ann import (
        brute_force_topk,
        lsh_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    qv, found = _query_vec(spark, sf_dir, 0)
    # missing probe row -> both arms empty, same as the oracle's probe CTE
    emb = emb.where(F.lit(found))
    w_arr = F.array(*[F.lit(w) for w in _DCG_W])
    exact = brute_force_topk(emb, "vec_id", "embedding", qv, k=10).select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()))
        .alias("er"),
    )
    approx = lsh_topk(
        emb, "vec_id", "embedding", qv, k=10, planes=8, multiprobe_hamming=2
    ).select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()))
        .alias("ar"),
    )
    j = exact.join(approx, "vec_id", "full_outer")
    both = F.col("er").isNotNull() & F.col("ar").isNotNull()
    t_dcg = F.when(
        both,
        F.round(
            (11 - F.col("er"))
            * F.element_at(w_arr, F.col("ar").cast("int"))
            * 1000000.0,
            0,
        ).cast("long"),
    ).otherwise(F.lit(0))
    t_idcg = F.when(
        F.col("er").isNotNull(),
        F.round(
            (11 - F.col("er"))
            * F.element_at(w_arr, F.col("er").cast("int"))
            * 1000000.0,
            0,
        ).cast("long"),
    ).otherwise(F.lit(0))
    return j.agg(
        F.sum(F.when(both, 1).otherwise(0)).alias("n_hits"),
        F.round(F.sum(t_dcg).cast("long") / 1000000.0, 6).alias("dcg"),
        F.round(F.sum(t_idcg).cast("long") / 1000000.0, 6).alias("idcg"),
        F.round(
            F.sum(t_dcg).cast("long") * 1.0 / F.sum(t_idcg).cast("long"), 6
        ).alias("ndcg"),
    )


def _calibration_oracle() -> str:
    from openmrs_module_mamba_etl_spark.inventory.llm_queries import (
        _CLF_BIAS,
        _CLF_W,
    )

    w_sql = "[" + ", ".join(repr(w) for w in _CLF_W) + "]"
    return f"""
    WITH {_QUALITY_CTE}, cp AS (
      SELECT doc_id, unnest(toks) AS tok FROM t WHERE len(toks) > 0
    ), cs AS (
      SELECT doc_id,
             SUM(list_extract({w_sql},
                   CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64
                        AS INT) + 1)) AS wsum,
             COUNT(*) AS n
      FROM cp GROUP BY doc_id
    ), preds AS (
      SELECT cs.doc_id,
             ROUND(1.0 / (1.0 + exp(-(wsum / n + {_CLF_BIAS}))), 6) AS p,
             CASE WHEN s.q10 >= 7 THEN 1 ELSE 0 END AS pos
      FROM cs JOIN scored s ON cs.doc_id = s.doc_id
    )
    SELECT CAST(FLOOR(p * 10) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(p * 1000000) AS BIGINT)) AS BIGINT)
                 / (COUNT(*) * 1000000.0), 6) AS mean_pred,
           ROUND(SUM(pos) * 1.0 / COUNT(*), 6) AS pos_rate
    FROM preds GROUP BY bin
    """


@query("eval_calibration", oracle=_calibration_oracle())
def eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the fasttext-style quality classifier
    against the heuristic quality gate (q ≥ 0.7): per predicted-probability
    decile, how many docs, the mean prediction, and the observed positive
    rate — the calibration report that decides whether a filter threshold
    is trustworthy.

    Exactness: predictions are rounded to 6 dp BEFORE binning and the
    per-bin mean aggregates integer micro-units (the deci-point trick),
    so binning and means are exact under any fold order; positive rate is
    an integer ratio.

    Scale shape: classifier inference is the registered map-side pass
    (hashed bag × weight literals, one posting shuffle), the quality gate
    is codegen-only, the doc_id equi-join co-keys with the inference
    aggregate, and the decile groupBy contracts to ≤11 rows — evaluation
    costs one more map pass over work the pipeline already does."""
    from openmrs_module_mamba_etl_spark.inventory.llm_queries import (
        _CLF_BIAS,
        _CLF_W,
    )
    from openmrs_module_mamba_etl_spark.llm.curation import classifier_score

    docs = table(spark, sf_dir, "documents")
    preds = classifier_score(
        docs, "doc_id", "text", weights=_CLF_W, bias=_CLF_BIAS
    ).select("doc_id", F.col("quality_score").alias("p"))
    gate = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.when(
            (T.quality_score(F.col("text")) * 10).cast("long") >= 7, 1
        ).otherwise(0).alias("pos"),
    )
    return (
        preds.join(gate, "doc_id")
        .groupBy(F.floor(F.col("p") * 10).alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("p") * 1000000, 0).cast("long")).cast(
                    "long"
                )
                / (F.count(F.lit(1)) * 1000000.0),
                6,
            ).alias("mean_pred"),
            F.round(F.sum("pos") / F.count(F.lit(1)), 6).alias("pos_rate"),
        )
    )


# --- numeric profiling / sketch point-queries ------------------------------

#: Numeric lineitem columns profiled pairwise (DECIMAL-exact moments).
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    sums = ",\n".join(
        f"CAST(SUM(c{i}) AS DOUBLE) AS s{i}" for i in range(len(_CORR_COLS))
    )
    prods = ",\n".join(
        f"CAST(SUM(c{i} * c{j}) AS DOUBLE) AS s{i}{j}"
        for i in range(len(_CORR_COLS))
        for j in range(i, len(_CORR_COLS))
    )
    casts = ", ".join(
        f"CAST({c} AS DECIMAL(14,2)) AS c{i}"
        for i, c in enumerate(_CORR_COLS)
    )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT '{_CORR_COLS[i]}' AS col_a, '{_CORR_COLS[j]}' AS col_b,
           ROUND((n * s{i}{j} - s{i} * s{j})
                 / (sqrt(n * s{i}{i} - s{i} * s{i})
                    * sqrt(n * s{j}{j} - s{j} * s{j})), 6) AS r
    FROM m"""
        for i in range(len(_CORR_COLS))
        for j in range(i + 1, len(_CORR_COLS))
    )
    return f"""
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, {sums}, {prods}
      FROM (SELECT {casts} FROM lineitem)
    )
{rows}
    """


@query("profile_correlation", oracle=_corr_oracle())
def profile_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the numeric lineitem
    columns (upper triangle) — the column-profiling report a feature
    pipeline runs before trusting derived signals, computed the same way
    train_ols fits: ONE aggregation pass collects the k + k(k+1)/2
    DECIMAL-exact moments, then every coefficient is scalar column math
    on the single moment row, exploded into labeled pairs (no pivot, no
    cross join, no second scan).

    Exactness: DECIMAL(14,2) casts make every SUM exact integer
    arithmetic under any partition fold order; the correlation formula
    then runs in IEEE doubles with identical expression text on both
    engines. Scale: one map-side-combined pass; adding columns grows the
    moment vector O(k²), never the data passes."""
    k = len(_CORR_COLS)
    li = table(spark, sf_dir, "lineitem").select(
        *[
            F.col(c).cast("decimal(14,2)").alias(f"c{i}")
            for i, c in enumerate(_CORR_COLS)
        ]
    )
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [
        F.sum(f"c{i}").cast("double").alias(f"s{i}") for i in range(k)
    ]
    aggs += [
        F.sum(F.col(f"c{i}") * F.col(f"c{j}")).cast("double").alias(f"s{i}{j}")
        for i in range(k)
        for j in range(i, k)
    ]
    m = li.agg(*aggs)
    n = F.col("n")

    def corr(i: int, j: int):
        return F.round(
            (n * F.col(f"s{i}{j}") - F.col(f"s{i}") * F.col(f"s{j}"))
            / (
                F.sqrt(n * F.col(f"s{i}{i}") - F.col(f"s{i}") * F.col(f"s{i}"))
                * F.sqrt(
                    n * F.col(f"s{j}{j}") - F.col(f"s{j}") * F.col(f"s{j}")
                )
            ),
            6,
        )

    pairs = [
        F.struct(
            F.lit(_CORR_COLS[i]).alias("col_a"),
            F.lit(_CORR_COLS[j]).alias("col_b"),
            corr(i, j).alias("r"),
        )
        for i in range(k)
        for j in range(i + 1, k)
    ]
    return m.select(F.explode(F.array(*pairs)).alias("kv")).select(
        "kv.col_a", "kv.col_b", "kv.r"
    )


#: Count-min sketch geometry: d hash rows × w buckets. Width 256 on a
#: 15-user test corpus makes collisions rare but nonzero at sf0.1 volumes;
#: the estimate ≥ truth invariant is what the query publishes.
_CMS_D, _CMS_W = 4, 256

#: Probe keys whose counts the sketch answers (point queries).
_CMS_PROBES = list(range(10))


def _cms_bucket_sql(row: int, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{row}|' || CAST({key} AS VARCHAR)), "
        f"1, 8))::BIGINT % {_CMS_W} AS BIGINT)"
    )


def _cms_oracle() -> str:
    grid_rows = "\n      UNION ALL\n".join(
        f"""      SELECT {i} AS hrow, {_cms_bucket_sql(i, "user_id")} AS bucket
      FROM events"""
        for i in range(_CMS_D)
    )
    probe_rows = "\n      UNION ALL\n".join(
        f"      SELECT {p} AS probe_id, {i} AS hrow, "
        f"{_cms_bucket_sql(i, str(p))} AS bucket"
        for p in _CMS_PROBES
        for i in range(_CMS_D)
    )
    return f"""
    WITH cells AS (
{grid_rows}
    ), grid AS (
      SELECT hrow, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cells GROUP BY hrow, bucket
    ), probes AS (
{probe_rows}
    ), est AS (
      SELECT probe_id, MIN(cnt) AS est
      FROM probes JOIN grid USING (hrow, bucket)
      GROUP BY probe_id
    ), truth AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY user_id
    )
    SELECT e.probe_id AS user_id, CAST(e.est AS BIGINT) AS est,
           t.true_cnt, CAST(e.est - t.true_cnt AS BIGINT) AS overcount
    FROM est e JOIN truth t ON e.probe_id = t.user_id
    """


@query("agg_countmin_portable", oracle=_cms_oracle())
def agg_countmin_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries (Cormode/Muthukrishnan): the event
    stream contracts to a d×w integer counter grid (md5-derived buckets,
    the engine-portable hash contract), and per-key count estimates are
    the MIN over the d addressed cells — published next to the exact
    count so the ``est ≥ truth`` one-sided-error invariant is visible in
    the output.

    Scale shape: the grid build is ONE map-side-combined aggregation of
    d·w = 1024 cells regardless of stream volume — the sketch is what
    ships, not the stream; probe lookups equi-join the probe set's d
    addressed cells against the tiny grid (broadcast by AQE). The exact
    `truth` branch exists only to exhibit the error bound at test scale —
    a production deployment reads the grid alone.

    Cite: reference-side analytics would run this as a MySQL SP over the
    full table (openmrs-module-mamba-etl `README.md:243-328` pattern);
    the sketch is the 100 TB answer to the same point query."""
    ev = table(spark, sf_dir, "events").select("user_id")

    def bucket(row: int, key):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{row}|"), key.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("hrow"),
                        bucket(i, F.col("user_id")).alias("bucket"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rc")
    )
    grid = cells.groupBy("rc.hrow", "rc.bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # The probe set is a literal: address each probe's d cells the same
    # way the grid hashed them (row index baked into the hashed string).
    probes = spark.createDataFrame(
        [(p, i) for p in _CMS_PROBES for i in range(_CMS_D)],
        "probe_id long, hrow int",
    ).select(
        "probe_id",
        "hrow",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("hrow").cast("string"),
                            F.lit("|"),
                            F.col("probe_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        ).alias("bucket"),
    )
    est = (
        probes.join(grid, ["hrow", "bucket"])
        .groupBy("probe_id")
        .agg(F.min("cnt").alias("est"))
    )
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    return (
        est.join(truth, est.probe_id == truth.user_id)
        .select(
            F.col("probe_id").alias("user_id"),
            "est",
            "true_cnt",
            (F.col("est") - F.col("true_cnt")).alias("overcount"),
        )
    )


# --- embedding truncation (Matryoshka) evaluation --------------------------

#: Truncation widths evaluated against the full 64-dim ranking.
_TRUNC_DIMS = [8, 16, 32]


def _trunc_oracle() -> str:
    def cos(vec: str, q: str) -> str:
        return f"""ROUND(
               list_sum(list_transform(list_zip({vec}, {q}),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform({vec},
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform({q},
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6)"""

    arms = "\n    UNION ALL\n".join(
        f"""    SELECT {w} AS dim_trunc,
           CAST((SELECT COUNT(*) FROM (
              SELECT b.vec_id, {cos("b.embedding[1:{w}]".format(w=w),
                                    "q.qv[1:{w}]".format(w=w))} AS cosine
              FROM embeddings b, q
              ORDER BY cosine DESC, b.vec_id ASC LIMIT 10
            ) tr JOIN ex ON tr.vec_id = ex.vec_id) AS BIGINT) AS n_overlap
    FROM (SELECT 1)"""
        for w in _TRUNC_DIMS
    )
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ex AS (
      SELECT b.vec_id, {cos("b.embedding", "q.qv")} AS cosine
      FROM embeddings b, q
      ORDER BY cosine DESC, b.vec_id ASC LIMIT 10
    )
    SELECT dim_trunc, n_overlap,
           ROUND(n_overlap / 10.0, 6) AS recall
    FROM (
{arms}
    )
    """


@query("emb_truncation_eval", oracle=_trunc_oracle())
def emb_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation sweep: top-10 recall of prefix-d
    cosine rankings (d = 8/16/32) against the full 64-dim exact top-10 —
    the report that decides how far an embedding column can be truncated
    (4–8× storage and bandwidth at 100 TB) before retrieval quality
    degrades.

    Determinism: every arm ranks by its ROUNDED cosine with id tie-break
    (the brute_force_topk contract), so each top-10 SET is a pure
    function of published values; recall is an integer/10 ratio.

    Scale shape: each truncated arm is the same scan + TakeOrdered shape
    as the full ranking but reads only the prefix slice (with a columnar
    layout that is proportionally less I/O); overlap counting semi-joins
    two 10-row sets. Arms share one corpus scan per width — the sweep is
    k cheap passes, not k² work."""
    from openmrs_module_mamba_etl_spark.inventory.llm_queries import (
        _query_vec,
    )
    from openmrs_module_mamba_etl_spark.llm.ann import brute_force_topk

    emb = table(spark, sf_dir, "embeddings")
    qv, found = _query_vec(spark, sf_dir, 0)
    # missing probe row -> every arm empty, same as the oracle's probe CTE
    emb = emb.where(F.lit(found))
    exact = brute_force_topk(emb, "vec_id", "embedding", qv, k=10).select(
        "vec_id"
    )
    arms = []
    for w in _TRUNC_DIMS:
        trunc = brute_force_topk(
            emb.select(
                "vec_id", F.slice("embedding", 1, w).alias("embedding")
            ),
            "vec_id",
            "embedding",
            qv[:w],
            k=10,
        ).select("vec_id")
        arms.append(
            trunc.join(exact, "vec_id", "semi").agg(
                F.lit(w).alias("dim_trunc"),
                F.count(F.lit(1)).alias("n_overlap"),
            )
        )
    swept = arms[0]
    for a in arms[1:]:
        swept = swept.unionByName(a)
    return swept.select(
        "dim_trunc",
        "n_overlap",
        F.round(F.col("n_overlap") / 10.0, 6).alias("recall"),
    )


# --- perceptual image dedup ------------------------------------------------


@query("multimodal_phash_dedup")  # pixel-domain hash: not SQL-replayable
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup image dedup: dHash (8×8 difference hash over a
    luminance thumbnail) groups images by PIXELS, not bytes — catching
    re-encoded duplicates that sha256 dedup provably misses.

    The query constructs its own adversarial corpus: one real PNG per
    sampled document (1-in-17, pixels from the text bytes — the
    multimodal_decode_real recipe) encoded TWICE with different PNG
    scanline filters (None vs Up). The encodings are byte-distinct
    (different sha256) but pixel-identical, so every perceptual group
    must contain ≥2 members with ≥2 distinct byte digests — the output
    publishes both counts, making the "content dedup beats byte dedup"
    invariant visible per group (pinned in tests/test_phash.py, which
    also pins the bit-level dHash contract).

    Rows-only by design: PNG decode + thumbnail luminance is not
    SQL-expressible; the grouping invariants and the kernel bits are
    pinned by unit tests instead (house rule for quantizer/codec-seeded
    ops).

    Scale shape: encode+hash run in one Arrow mapInPandas pass; grouping
    shuffles (phash, id, sha) triples only — media bytes never shuffle,
    the media_dedup contract with a re-encoding-invariant key."""
    import pandas as pd

    from openmrs_module_mamba_etl_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        phash_images,
    )
    from openmrs_module_mamba_etl_spark.llm.png import encode_png

    docs = (
        table(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 17 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )

    def encode(it):
        for pdf in it:
            out_ids, out_png = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                w, h = 4 + did % 13, 3 + did % 7
                need = w * h * 3
                payload = (text.encode() or b"\x00") * (
                    need // max(1, len(text)) + 2
                )
                for variant, ftype in ((0, 0), (1, 2)):
                    out_ids.append(did * 2 + variant)
                    out_png.append(encode_png(w, h, payload[:need], ftype))
            yield pd.DataFrame(
                {
                    "media_id": out_ids,
                    "content": out_png,
                    "mime": "image/png",
                    "source_uri": [f"synthetic://{i}" for i in out_ids],
                }
            )

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    return (
        phash_images(media)
        .groupBy("phash")
        .agg(
            F.min("media_id").alias("kept_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("sha256").alias("n_distinct_bytes"),
        )
    )


# --- exact distinct via bitmap aggregation ---------------------------------

#: Bitmap block width. 63 (not 64): DuckDB's BIGINT left-shift raises on
#: 1 << 63 while Spark wraps — 62 is the highest portable shift, so keys
#: pack 63 per word on both engines.
_BMP_W = 63


@query(
    "agg_bitmap_distinct",
    oracle=f"""
    WITH w AS (
      SELECT event_type, user_id // {_BMP_W} AS blk,
             bit_or(1::BIGINT << CAST(user_id % {_BMP_W} AS INT)) AS word
      FROM events GROUP BY event_type, blk
    ), b AS (
      SELECT event_type, CAST(SUM(bit_count(word)) AS BIGINT)
               AS n_users_bitmap
      FROM w GROUP BY event_type
    ), d AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
               AS n_users_direct
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_users_bitmap, n_users_direct
    FROM b JOIN d USING (event_type)
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap OR-aggregation (the ClickHouse
    groupBitmap / roaring-bitmap pattern, word-packed): each user sets one
    bit in its 63-key block's word, blocks OR-combine map-side, and the
    distinct count is the popcount sum — exact like COUNT(DISTINCT), but
    the shuffled state is ONE long per (group, block) no matter how many
    duplicate events hit the block, and block partials merge with a
    single OR (associative, re-aggregable across days/partitions — the
    property COUNT(DISTINCT) lacks and sketches only approximate).

    The direct COUNT(DISTINCT) rides along so the output exhibits
    bitmap ≡ direct per group.

    Scale shape: one shuffle keyed (group, block) contracting duplicate
    hits map-side via bit_or; the popcount re-aggregation runs on the
    contracted word table (|groups|×|blocks| rows). Dense ids pack 63×
    tighter than (group, user) pairs; sparse ids degrade to pair-shuffle
    size, never worse."""
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    words = ev.groupBy(
        "event_type",
        F.expr(f"user_id div {_BMP_W}").alias("blk"),
    ).agg(
        # expr: the Python shiftleft() helper takes only a literal bit
        # count; the SQL function accepts a column.
        F.bit_or(
            F.expr(f"shiftleft(1L, CAST(user_id % {_BMP_W} AS INT))")
        ).alias("word")
    )
    bitmap = words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_users_bitmap")
    )
    direct = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_direct")
    )
    return bitmap.join(direct, "event_type")


# --- partial-aggregate merge (incremental re-aggregation) ------------------

_US_DAY = 86_400_000_000


@query(
    "agg_partial_merge",
    oracle=f"""
    WITH e AS (
      SELECT event_type, user_id,
             CAST(value AS DECIMAL(14,2)) AS v,
             (epoch_us(ts) // {_US_DAY}) % 2 AS half
      FROM events
    ), words AS (
      SELECT event_type, half, user_id // {_BMP_W} AS blk,
             bit_or(1::BIGINT << CAST(user_id % {_BMP_W} AS INT)) AS word
      FROM e GROUP BY event_type, half, blk
    ), stats AS (
      SELECT event_type, half, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(v) AS DECIMAL(18,2)) AS s,
             MIN(v) AS mn, MAX(v) AS mx
      FROM e GROUP BY event_type, half
    ), m_words AS (
      SELECT event_type, CAST(SUM(bit_count(word2)) AS BIGINT) AS n_users
      FROM (
        SELECT event_type, blk, bit_or(word) AS word2
        FROM words GROUP BY event_type, blk
      ) GROUP BY event_type
    ), m_stats AS (
      SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS cnt,
             CAST(SUM(s) AS DECIMAL(18,2)) AS s,
             MIN(mn) AS mn, MAX(mx) AS mx
      FROM stats GROUP BY event_type
    ), direct AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d_cnt,
             CAST(SUM(v) AS DECIMAL(18,2)) AS d_s,
             MIN(v) AS d_mn, MAX(v) AS d_mx,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS d_users
      FROM e GROUP BY event_type
    )
    SELECT s.event_type,
           s.cnt,
           CAST(s.s AS DOUBLE) AS sum_v,
           CAST(s.mn AS DOUBLE) AS min_v,
           CAST(s.mx AS DOUBLE) AS max_v,
           w.n_users,
           (s.cnt = d.d_cnt AND s.s = d.d_s AND s.mn = d.d_mn
            AND s.mx = d.d_mx AND w.n_users = d.d_users) AS merged_eq_direct
    FROM m_stats s
    JOIN m_words w USING (event_type)
    JOIN direct d USING (event_type)
    """,
)
def agg_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-aggregation correctness, demonstrated in one plan:
    the stream splits into two halves (even/odd days — yesterday's
    partition vs today's increment), each half reduces to mergeable
    partial state (count / DECIMAL sum / min / max / bitmap-distinct
    words), the partials MERGE (sum-of-sums, min-of-mins, OR-of-words),
    and the output publishes ``merged_eq_direct`` — merged state equals a
    full recompute, per group. This is the algebra that lets a 100 TB
    daily pipeline update stats by touching only the increment.

    Exactness: counts/bitmaps are integers, sums are DECIMAL (exact,
    fold-order-free), min/max idempotent — every merge step is exact, so
    the equality column is a hard invariant, not a tolerance check.

    Scale shape: partials contract per (group, half) — the merge
    re-aggregates model-sized tables; the `direct` branch exists to
    exhibit the invariant and would be absent in production (that's the
    point: the full scan is only needed once)."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.col("value").cast("decimal(14,2)").alias("v"),
        (F.expr(f"(ts div 1000) div {_US_DAY}") % 2).alias("half"),
    )
    words = ev.groupBy(
        "event_type", "half", F.expr(f"user_id div {_BMP_W}").alias("blk")
    ).agg(
        F.bit_or(
            F.expr(f"shiftleft(1L, CAST(user_id % {_BMP_W} AS INT))")
        ).alias("word")
    )
    m_words = (
        words.groupBy("event_type", "blk")
        .agg(F.bit_or("word").alias("word2"))
        .groupBy("event_type")
        .agg(F.sum(F.bit_count("word2")).cast("long").alias("n_users"))
    )
    stats = ev.groupBy("event_type", "half").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("v").cast("decimal(18,2)").alias("s"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    m_stats = stats.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("cnt"),
        F.sum("s").cast("decimal(18,2)").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    direct = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("d_cnt"),
        F.sum("v").cast("decimal(18,2)").alias("d_s"),
        F.min("v").alias("d_mn"),
        F.max("v").alias("d_mx"),
        F.count_distinct("user_id").alias("d_users"),
    )
    return (
        m_stats.join(m_words, "event_type")
        .join(direct, "event_type")
        .select(
            "event_type",
            "cnt",
            # DECIMAL stays exact through every merge; publish as DOUBLE
            # (values ≪ 2^53, conversion exact) so pandas dtypes agree.
            F.col("s").cast("double").alias("sum_v"),
            F.col("mn").cast("double").alias("min_v"),
            F.col("mx").cast("double").alias("max_v"),
            "n_users",
            (
                (F.col("cnt") == F.col("d_cnt"))
                & (F.col("s") == F.col("d_s"))
                & (F.col("mn") == F.col("d_mn"))
                & (F.col("mx") == F.col("d_mx"))
                & (F.col("n_users") == F.col("d_users"))
            ).alias("merged_eq_direct"),
        )
    )


# --- LSH index-quality evaluation ------------------------------------------


def _lsh_eval_oracle() -> str:
    from openmrs_module_mamba_etl_spark.inventory.llm_queries import (
        _SHINGLE_CTE,
    )

    return (
        _SHINGLE_CTE
        + """
    , ex AS (
      SELECT doc_id, unnest(shingles) AS sh FROM shingled
    ), mh AS (
      SELECT doc_id, s.seed,
             MIN(('0x' || substr(md5(s.seed::VARCHAR || ':' || sh), 1, 15))::BIGINT) AS v
      FROM ex CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) s
      GROUP BY doc_id, s.seed
    ), sig AS (
      SELECT doc_id, list(v ORDER BY seed) AS sig FROM mh GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, b.band,
             ('0x' || substr(md5(b.band::VARCHAR || '|' ||
                  array_to_string(sig[b.band*4+1 : b.band*4+4], ',')), 1, 15))::BIGINT
               AS bucket
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), shared AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ), truth AS (
      SELECT id_a, id_b
      FROM (
        SELECT s.id_a, s.id_b,
               len(list_intersect(sa.shingles, sb.shingles)) AS inter,
               len(sa.shingles) AS na, len(sb.shingles) AS nb
        FROM shared s
        JOIN shingled sa ON sa.doc_id = s.id_a
        JOIN shingled sb ON sb.doc_id = s.id_b
      ) WHERE inter * 1.0 / (na + nb - inter) >= 0.5
    ), hits AS (
      SELECT COUNT(*) AS n_hit
      FROM cand JOIN truth USING (id_a, id_b)
    )
    SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
           CAST(n_hit AS BIGINT) AS n_hit,
           ROUND(n_hit * 1.0 / (SELECT COUNT(*) FROM cand), 6) AS precision,
           ROUND(n_hit * 1.0 / (SELECT COUNT(*) FROM truth), 6) AS recall
    FROM hits
    """
    )


@query("dedup_lsh_eval", oracle=_lsh_eval_oracle())
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality gate for the MinHash-LSH dedup index — the dedup
    sibling of ann_recall_eval: UNVERIFIED band-bucket candidate pairs
    (16 md5-contract hashes × 4 bands, the dedup_minhash_portable
    geometry) scored against exact shingle-Jaccard ≥ 0.5 ground truth;
    publishes candidate/truth/hit counts plus precision and recall — the
    S-curve's real operating point on this corpus, measured not assumed.

    Recall here is what the production pipeline silently relies on
    (missed candidates = undetected duplicates, unrecoverable later);
    precision only prices the verification join.

    Scale shape: the candidate arm is the production LSH shape (doc-row
    signature aggregate, band-bucket equi-join). The TRUTH arm joins all
    pairs sharing any shingle — strictly an evaluation harness, run on a
    sample at 100 TB (same caveat as ann_recall_eval's brute-force arm);
    counts are integers, ratios exact divisions."""
    from openmrs_module_mamba_etl_spark.functions.partitioning import (
        spread_to_cores,
    )
    from openmrs_module_mamba_etl_spark.functions.similarity import (
        band_hashes,
        word_shingles,
    )
    from openmrs_module_mamba_etl_spark.llm.dedup import (
        _minhash_signatures,
        _pair_join,
    )

    num_hashes, bands, rows_per_band = 16, 4, 4
    base = (
        spread_to_cores(table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id", word_shingles(F.col("text"), 3).alias("shingles")
        )
        .persist()
    )
    ex = base.select("doc_id", F.explode("shingles").alias("sh"))
    sigs = _minhash_signatures(base, "doc_id", num_hashes, portable=True)
    buckets = sigs.select(
        "doc_id",
        F.explode(
            band_hashes(F.col("sig"), bands, rows_per_band, portable=True)
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    cand = _pair_join(buckets, "doc_id", ["band", "bucket"]).distinct()

    shared = _pair_join(ex, "doc_id", ["sh"]).distinct()
    sh = base.select("doc_id", "shingles")
    truth = (
        shared.join(
            sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "shingles", "sh_a"
            ),
            "id_a",
        )
        .join(
            sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "shingles", "sh_b"
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .where(
            F.col("inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter"))
            >= 0.5
        )
        .select("id_a", "id_b")
    )
    # ONE full-outer marker join + ONE aggregate row: three scalar counts
    # without 1x1 cross joins (which plan as CartesianProduct). COUNT of the
    # non-null markers, not SUM: on a duplicate-free corpus an empty arm
    # would make SUM publish NULL where the oracle's COUNT(*) publishes 0.
    marked = cand.withColumn("in_c", F.lit(1)).join(
        truth.withColumn("in_t", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    out = marked.agg(
        F.count("in_c").alias("n_cand"),
        F.count("in_t").alias("n_true"),
        F.count(
            F.when(F.col("in_c").isNotNull() & F.col("in_t").isNotNull(), 1)
        ).alias("n_hit"),
    ).select(
        "n_cand",
        "n_true",
        "n_hit",
        # try_divide: NULL on a zero denominator (duplicate-free corpus) —
        # matching DuckDB, where x/0 is NULL; plain `/` under ANSI raises
        F.round(F.try_divide(F.col("n_hit"), F.col("n_cand")), 6).alias(
            "precision"
        ),
        F.round(F.try_divide(F.col("n_hit"), F.col("n_true")), 6).alias(
            "recall"
        ),
    )
    # The result is ONE row: materialize it now (localCheckpoint pins the
    # single-row RDD) so `base` can be unpersisted here instead of leaking
    # cached shingle partitions for the session lifetime (every bench /
    # correctness / example invocation re-persisted it).
    out = out.localCheckpoint(eager=True)
    base.unpersist()
    return out


# --- running exact distinct (cumulative-unique-users curve) ----------------


@query(
    "window_running_distinct",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_US_DAY} AS day,
             user_id // {_BMP_W} AS blk,
             bit_or(1::BIGINT << CAST(user_id % {_BMP_W} AS INT)) AS word
      FROM events GROUP BY event_type, day, blk
    ), cum AS (
      SELECT event_type, day, blk,
             bit_or(word) OVER (
               PARTITION BY event_type, blk ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS cword
      FROM daily
    ), days AS (
      SELECT DISTINCT event_type, day FROM daily
    ), filled AS (
      SELECT d.event_type, d.day, c.blk, c.cword,
             ROW_NUMBER() OVER (
               PARTITION BY d.event_type, d.day, c.blk
               ORDER BY c.day DESC) AS rn
      FROM days d JOIN cum c
        ON c.event_type = d.event_type AND c.day <= d.day
    )
    SELECT event_type, day,
           CAST(SUM(bit_count(cword)) AS BIGINT) AS n_users_cum
    FROM filled WHERE rn = 1
    GROUP BY event_type, day
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-unique-users curve, EXACT: per (group, day), how many
    distinct users have been seen so far — the growth chart every
    dashboard wants, which naive SQL recomputes with N² day-prefix scans
    and sketches only approximate. Bitmap words make it one pass: daily
    (group, block) words, a running OR per block lane (set-union is
    associative so the window prefix IS the cumulative set), then a
    popcount sum per day over each lane's latest word.

    The lane fill joins each day to its most recent ≤-day word per block
    — at most |blocks|×|days| rows per group, all post-contraction.

    Scale shape: the only data-proportional exchange is the daily word
    aggregate (map-side combined); the running OR and the fill run on the
    contracted (group, day, block) table. State per lane is one long —
    the same mergeable-bitmap algebra as agg_partial_merge, composed with
    a window."""
    daily = table(spark, sf_dir, "events").groupBy(
        "event_type",
        F.expr(f"(ts div 1000) div {_US_DAY}").alias("day"),
        F.expr(f"user_id div {_BMP_W}").alias("blk"),
    ).agg(
        F.bit_or(
            F.expr(f"shiftleft(1L, CAST(user_id % {_BMP_W} AS INT))")
        ).alias("word")
    )
    cum = daily.select(
        "event_type",
        "day",
        "blk",
        F.bit_or("word")
        .over(
            Window.partitionBy("event_type", "blk")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cword"),
    )
    days = daily.select("event_type", "day").distinct()
    filled = (
        days.join(
            cum.select(
                "event_type",
                F.col("day").alias("cday"),
                "blk",
                "cword",
            ),
            "event_type",
        )
        .where(F.col("cday") <= F.col("day"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type", "day", "blk").orderBy(
                    F.col("cday").desc()
                )
            ),
        )
        .where(F.col("rn") == 1)
    )
    return filled.groupBy("event_type", "day").agg(
        F.sum(F.bit_count("cword")).cast("long").alias("n_users_cum")
    )


# --- log-bucketed percentile sketch (HdrHistogram-style) -------------------

_HDR_QS = [0.5, 0.95, 0.99]
_HDR_QS_SQL = "[" + ", ".join(repr(q) for q in _HDR_QS) + "]"


@query(
    "agg_hdr_histogram",
    oracle=f"""
    WITH c AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ), bucketed AS (
      SELECT cents,
             length(bin(GREATEST(cents, 8))) - 1 AS msb,
             GREATEST(cents, 8)
               >> (length(bin(GREATEST(cents, 8))) - 1 - 3) AS sub
      FROM c
    ), grid AS (
      SELECT msb * 8 + sub - 8 AS bucket,
             CAST(MIN(sub << (msb - 3)) AS BIGINT) AS lb_cents,
             COUNT(*) AS n
      FROM bucketed GROUP BY msb * 8 + sub - 8
    ), cum AS (
      SELECT bucket, lb_cents,
             SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cn,
             SUM(n) OVER () AS total
      FROM grid
    ), est AS (
      SELECT q.q, MIN(lb_cents) AS est_cents
      FROM cum CROSS JOIN (SELECT CAST(unnest({_HDR_QS_SQL}) AS DOUBLE) AS q) q
      WHERE cn >= ceil(q.q * total)
      GROUP BY q.q
    ), ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents ASC) AS rn,
             COUNT(*) OVER () AS total
      FROM c
    ), tru AS (
      SELECT q.q, MIN(cents) AS true_cents
      FROM ranked CROSS JOIN (SELECT CAST(unnest({_HDR_QS_SQL}) AS DOUBLE) AS q) q
      WHERE rn >= ceil(q.q * total)
      GROUP BY q.q
    )
    SELECT e.q,
           ROUND(e.est_cents / 100.0, 2) AS est,
           ROUND(t.true_cents / 100.0, 2) AS true_val,
           ROUND((e.est_cents - t.true_cents) * 1.0 / t.true_cents, 6)
             AS rel_err
    FROM est e JOIN tru t ON e.q = t.q
    """,
)
def agg_hdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-bucketed percentile sketch (the HdrHistogram layout: 8
    sub-buckets per power-of-two octave → ≤12.5% relative error by
    construction): every price collapses to one of ~#octaves×8 integer
    buckets, percentiles read off the cumulative bucket counts, and the
    EXACT rank percentile rides along so the published rel_err exhibits
    the error bound per quantile.

    Exactness: the bucket index is pure integer math — msb via
    ``length(bin(cents)) - 1`` (no float log2 whose last-ulp could flip a
    boundary), sub-bucket and lower bound via shifts — so both engines
    build the identical grid; the quantile pick compares integer
    cumulative counts against ``ceil(q·n)`` computed with the same IEEE
    double product on both sides.

    Scale shape: the sketch is ONE map-side-combined aggregate to a
    ~200-cell grid — mergeable across partitions/days by adding counts
    (the agg_partial_merge algebra), answering any quantile without
    touching the stream again; the exact-rank arm is the evaluation
    harness, itself a two-level bucketed prefix-sum — within-bucket
    running sums partitioned by bucket, then an exclusive prefix over the
    ≤#buckets-row totals — so no single task ever materializes the
    distinct-value set."""
    cents = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    # Domain precondition: cents must be NON-NEGATIVE (log buckets are
    # undefined for negatives). Values 0..7 are clamped into the first full
    # octave (bucket floor 8): below 8 the shift ``cents >> (msb-3)`` would
    # be negative, which Spark masks mod 64 and DuckDB rejects — the clamp
    # routes them to a defined low bucket identically on both engines.
    bucketed = cents.select(
        "cents",
        (F.length(F.bin(F.greatest("cents", F.lit(8)))) - 1).alias("msb"),
        F.expr(
            "GREATEST(cents, 8)"
            " >> (length(bin(GREATEST(cents, 8))) - 1 - 3)"
        ).alias("sub"),
    )
    grid = bucketed.groupBy(
        (F.col("msb") * 8 + F.col("sub") - 8).alias("bucket")
    ).agg(
        F.min(F.expr("sub << (msb - 3)")).cast("long").alias("lb_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = grid.select(
        "bucket",
        "lb_cents",
        F.sum("n").over(wc).alias("cn"),
        F.sum("n").over(wt).alias("total"),
    )
    qs = F.explode(F.array(*[F.lit(q) for q in _HDR_QS])).alias("q")
    est = (
        cum.select("lb_cents", "cn", "total", qs)
        .where(F.col("cn") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy("q")
        .agg(F.min("lb_cents").alias("est_cents"))
    )
    # Exact-truth arm, TWO-LEVEL bucketed prefix-sum (round-6 verdict task
    # 3): the exact rank quantile needs only the distinct-value histogram —
    # MIN(cents) whose cumulative count reaches ceil(q·n) equals the
    # row-number form on raw rows. The cumulative count splits along the
    # sketch's own bucket grid: level 1 is a within-bucket running sum,
    # PARTITIONED by bucket (no task ever sees more than one bucket's
    # distinct values); level 2 is an exclusive prefix over the per-bucket
    # totals — a ≤#buckets-row table, the one relation that crosses a
    # single-partition exchange. Global rank of a value = its bucket's
    # level-2 base + its level-1 within-bucket sum. The raw table is still
    # touched by exactly one map-side-combined aggregate.
    vals = cents.groupBy("cents").agg(F.count(F.lit(1)).alias("vn"))
    valsb = vals.withColumn(
        "bucket",
        (F.length(F.bin(F.greatest("cents", F.lit(8)))) - 1) * 8
        + F.expr(
            "GREATEST(cents, 8)"
            " >> (length(bin(GREATEST(cents, 8))) - 1 - 3)"
        )
        - 8,
    )
    wwithin = Window.partitionBy("bucket").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = valsb.select(
        "cents", "bucket", F.sum("vn").over(wwithin).alias("wcum")
    )
    bkt = valsb.groupBy("bucket").agg(F.sum("vn").alias("bn"))
    wbc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wbt = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = bkt.select(
        "bucket",
        (F.sum("bn").over(wbc) - F.col("bn")).alias("base"),
        F.sum("bn").over(wbt).alias("total"),
    )
    cumv = within.join(F.broadcast(base), "bucket").select(
        "cents",
        (F.col("base") + F.col("wcum")).alias("crn"),
        "total",
    )
    tru = (
        cumv.select("cents", "crn", "total", qs)
        .where(F.col("crn") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy("q")
        .agg(F.min("cents").alias("true_cents"))
    )
    return est.join(tru, "q").select(
        "q",
        F.round(F.col("est_cents") / 100.0, 2).alias("est"),
        F.round(F.col("true_cents") / 100.0, 2).alias("true_val"),
        F.round(
            (F.col("est_cents") - F.col("true_cents"))
            / F.col("true_cents"),
            6,
        ).alias("rel_err"),
    )
