"""Corpus curation beyond dedup: benchmark decontamination and
repetition-based quality filters (the Gopher/MassiveText rules).

Reference scope note: the reference engine (openmrs-module-mamba-etl) has
no text-curation surface; this module is part of the beyond-reference
training-data mandate (SURVEY.md §2.I).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from openmrs_module_mamba_etl_spark.functions.partitioning import (
    spread_to_cores,
)
from openmrs_module_mamba_etl_spark.functions.similarity import (
    word_ngrams,
    word_shingles,
)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark-overlap detection (the GPT-3/13-gram decontamination
    recipe, n tunable): a corpus document is tainted if it shares any
    word n-gram with any benchmark document. Returns
    (id, n_hit_shingles) for tainted docs — anti-join the result against
    the corpus to scrub.

    Scale shape: eval suites are tiny next to a 100 TB corpus, so the
    benchmark's distinct shingle set is BROADCAST — the corpus is never
    shuffled on shingle; its only wide stage is the per-doc hit count
    (partial-agg on id). Shingle sets are per-doc distinct on both sides,
    so n_hit_shingles counts distinct overlapping n-grams.
    """
    # spread both sides: a single-file corpus otherwise shingles on 1 core.
    # The shingle expressions stay INLINE under the explode (not projected
    # to a named column first): InferFiltersFromGenerate skips complex
    # generator children, but given an attribute it infers a size()>0
    # filter that predicate pushdown then inlines below the projection —
    # re-evaluating the whole shingle pipeline 2 extra times per row
    # (measured +25% on text_decontaminate, r14). The *_from_shingles
    # form is for composites whose shingle column is CACHE-materialized —
    # there the persist boundary blocks the pushdown.
    bench_sh = (
        spread_to_cores(benchmark, id_col)
        .select(F.explode(word_shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )
    corp_sh = spread_to_cores(corpus, id_col).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


def decontaminate_from_shingles(
    corpus_sh: DataFrame,
    bench_sh: DataFrame,
    id_col: str,
    shingle_col: str = "sh",
) -> DataFrame:
    """:func:`decontaminate` over pre-shingled frames — single-scan
    composites shingle once in a shared projection and feed both sides
    from it. Same shape: benchmark's distinct shingles BROADCAST, corpus
    exploded and counted per doc."""
    bench = (
        bench_sh.select(F.explode(shingle_col).alias("shingle")).distinct()
    )
    corp = corpus_sh.select(
        F.col(id_col), F.explode(shingle_col).alias("shingle")
    )
    return (
        corp.join(F.broadcast(bench), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dup3_max: float = 0.05,
    top2_max: float = 0.12,
) -> DataFrame:
    """Within-document repetition statistics (Gopher repetition rules):

    - ``dup_3gram_frac``: fraction of 3-gram occurrences that are repeats
      (1 − distinct/total) — expression-side only, no explode.
    - ``top_2gram_frac``: share of 2-gram occurrences taken by the single
      most frequent 2-gram — needs a per-(doc, gram) count, so one
      explode + two hash aggregates keyed by id (partial-agg friendly;
      never a global shuffle wider than the doc-id space).
    - ``flagged``: either fraction at/over its threshold. Gopher's
      production cuts are ~0.18–0.20; the defaults here are scaled to the
      synthetic corpus' repetition range so the flag is informative.
    """
    df = spread_to_cores(df, id_col)  # single-file inputs must not gram on 1 core
    g3 = word_ngrams(F.col(text_col), 3)
    base = df.select(
        F.col(id_col),
        F.round(
            F.when(
                F.size(g3) > 0,
                1.0 - F.size(F.array_distinct(g3)) / F.size(g3),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_3gram_frac"),
    )
    grams2 = df.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), 2)).alias("g")
    )
    top2 = (
        grams2.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.round(F.max("c") / F.sum("c"), 6).alias("top_2gram_frac")
        )
    )
    return (
        base.join(top2, id_col, "left")
        .withColumn(
            "top_2gram_frac", F.coalesce(F.col("top_2gram_frac"), F.lit(0.0))
        )
        .withColumn(
            "flagged",
            (F.col("dup_3gram_frac") >= dup3_max)
            | (F.col("top_2gram_frac") >= top2_max),
        )
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
) -> DataFrame:
    """Cross-document duplicate-span scoring — the measurement half of
    ExactSubstr deduplication (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"): for every document, the fraction
    of its word ``n``-gram positions whose span also occurs elsewhere in
    the corpus (another document, or again in the same one).

    Returns ``(id, n_spans, dup_spans, dup_frac)`` for documents with at
    least one full span (docs shorter than ``n`` tokens carry no signal
    and drop out — same in the SQL twin, where ``generate_series`` over a
    non-positive span count is empty).

    Scale shape: positional spans explode to one row per token position
    (corpus token count, the same order of magnitude every tokenizing
    stage already pays). The span-frequency aggregate shuffles on the
    span hash once; the join back to positions reuses that partitioning.
    Most spans are unique, so the count table is corpus-sized — at
    100 TB, hash the span to a 64-bit fingerprint before the shuffle so
    the wide stage moves 8-byte keys, not 60-byte strings (the collision
    rate at 2^64 is negligible for a frequency>=2 test). Fractions are
    ratios of exact integers, so the rounded value is engine-portable.
    """
    # Raw single-space split (the SQL twin is string_split(text, ' ')) —
    # the corpus is already normalized; curation tokenization must match
    # the oracle byte-for-byte.
    toks = F.split(F.col(text_col), " ")
    n_spans = F.size(toks) - F.lit(n - 1)
    spans = F.when(
        n_spans > 0,
        F.transform(
            F.sequence(F.lit(1), n_spans),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    pos = spread_to_cores(df, id_col).select(
        F.col(id_col), F.explode(spans).alias("span")
    )
    freq = pos.groupBy("span").agg(F.count(F.lit(1)).alias("span_count"))
    return (
        pos.join(freq, "span")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("span_count") >= 2, 1)).alias("dup_spans"),
            F.round(
                F.count(F.when(F.col("span_count") >= 2, 1))
                / F.count(F.lit(1)),
                4,
            ).alias("dup_frac"),
        )
    )


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[float],
    bias: float,
    threshold: float = 0.5,
) -> DataFrame:
    """Linear text-classifier inference (the fasttext-style quality-model
    pattern): hashed bag-of-tokens features × a broadcast weight vector →
    sigmoid score → keep/drop label.

    Token → feature bucket via the engine's portable md5 contract
    (llm/sampling.py:hash_bucket — identical one-liner in any ANSI SQL);
    the weight vector embeds as ONE array literal, so scoring a 100 TB
    corpus is a single map-side pass of codegen higher-order functions:
    no model server, no Python, no shuffle. Mean-of-weights (bag
    normalized by token count) keeps the logit scale length-invariant.
    """
    n_buckets = len(weights)
    warr = F.array(*[F.lit(float(w)) for w in weights])
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    # Σ_tokens w[md5_bucket(token)] — one sequential fold, JVM-side
    wsum = F.aggregate(
        F.transform(
            toks,
            lambda t: F.element_at(
                warr,
                (
                    F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
                    % n_buckets
                ).cast("int")
                + 1,
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    logit = wsum / F.size(toks) + F.lit(float(bias))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return (
        df.where(F.col(text_col).isNotNull())
        .where(F.size(toks) > 0)
        .select(
            F.col(id_col),
            F.round(score, 6).alias("quality_score"),
            F.when(score >= F.lit(threshold), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("label"),
        )
    )


def ngram_lm_score(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Bigram language-model quality scoring (the KenLM/CCNet filter
    pattern): train an add-one-smoothed bigram model on the corpus itself,
    then score every document by its mean token log-probability
    ``avg log P(w_i | w_{i-1})`` — low scores flag gibberish/boilerplate.

    Scale shape: the bigram stream shuffles ONCE per count table (both
    map-side-combinable hash aggregates bounded by observed-bigram
    cardinality, not corpus rows); scoring re-joins the stream to the two
    count tables on their natural keys. At 100 TB the model is pruned to
    top-K n-grams and BROADCAST so the scoring pass is join-free — here
    the unpruned shuffle-join form keeps the oracle exact. Vocabulary
    size enters as a broadcast 1-row aggregate. Documents with fewer
    than 2 tokens have no bigrams and drop out (no defined score).
    """
    from openmrs_module_mamba_etl_spark.functions.similarity import tokens

    base = spread_to_cores(df, id_col).where(F.col(text_col).isNotNull())
    toks = base.select(F.col(id_col), tokens(F.col(text_col)).alias("tk"))
    n = F.size("tk")
    pairs = F.zip_with(
        F.slice("tk", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("tk", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = toks.where(n >= 2).select(
        F.col(id_col), F.explode(pairs).alias("p")
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    cbg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    cctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    vocab = toks.select(F.explode("tk").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )

    logp = F.log(
        (F.col("c_bg") + F.lit(1.0)) / (F.col("c_ctx") + F.col("v"))
    )
    return (
        bg.join(cbg, ["w1", "w2"])
        .join(cctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("avg_logp"),
        )
    )


#: (label, pattern, replacement) — the conservative PII surface every
#: pretraining-curation pass scrubs. Patterns use only syntax shared by
#: Java regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs — so
#: the redaction is replayable in the oracle dialect verbatim.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing (emails / IPv4 / phone-like digit runs): per-doc
    match counts plus the redacted text and its md5 — the audit columns a
    compliance pass records before the redacted corpus ships to training.

    Pure row-local codegen (regexp_count + chained regexp_replace): no
    shuffle, no Python — at 100 TB this is a map-only streaming rewrite
    bounded by I/O. Patterns apply in PII_PATTERNS order so overlapping
    matches (an email containing digits) resolve deterministically.
    """
    redacted = F.col(text_col)
    counts = []
    for label, pat, rep in PII_PATTERNS:
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{label}")
        )
        redacted = F.regexp_replace(redacted, pat, rep)
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        *counts,
        F.md5(redacted).alias("redacted_md5"),
    )
