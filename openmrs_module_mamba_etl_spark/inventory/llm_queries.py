"""Training-data pipeline inventory (SURVEY.md §2.I): dedup, similarity
search, text analysis, multimodal columns.

Oracles replicate the exact arithmetic of the Spark expressions (same
tokenization regex, same fold order, double-cast accumulations) so value
hashes match bit-for-bit; xxhash64-based operators (MinHash/SimHash/LSH)
have no DuckDB equivalent and register rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from openmrs_module_mamba_etl_spark.functions import text as T
from openmrs_module_mamba_etl_spark.functions.partitioning import (
    spread_to_cores,
)
from openmrs_module_mamba_etl_spark.llm.ann import (
    brute_force_topk,
    ivf_topk,
    knn_join,
    knn_join_lsh,
    lsh_topk,
)
from openmrs_module_mamba_etl_spark.llm.dedup import (
    containment_pairs,
    embedding_cosine_pairs,
    exact_dedup,
    incremental_exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    semantic_dedup,
    simhash_pairs,
    token_jaccard_pairs,
)
from openmrs_module_mamba_etl_spark.llm.multimodal import (
    decode_images,
    documents_as_media,
    media_dedup,
    media_metadata,
    resize_images,
    sample_frames,
)
from openmrs_module_mamba_etl_spark.registry import query
from openmrs_module_mamba_etl_spark.sources.parquet import table

#: DuckDB expression mirroring functions.similarity.tokens().
_TOKS = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')"
)


# --- deduplication -------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5(array_to_string({_TOKS}, ' ')) AS content_hash,
           MIN(doc_id) AS kept_id, COUNT(*) AS n_dupes
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized content hash (hash-groupBy)."""
    return exact_dedup(table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_token_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents
    ), sizes AS (
      SELECT doc_id, len(t) AS n FROM toks
    ), posting AS (
      SELECT doc_id, unnest(t) AS token FROM toks
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM posting a JOIN posting b
        ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.9
    """,
)
def dedup_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (inverted-index join)."""
    return token_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.9
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                                        i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [array_to_string(toks, ' ')] END) AS grams
      FROM t
    ), sizes AS (
      SELECT doc_id, len(grams) AS n FROM sh
    ), posting AS (
      SELECT doc_id, unnest(grams) AS gram FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM posting a JOIN posting b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs — order-sensitive, so
    shuffled near-copies stop matching (inverted index on the shingle)."""
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.8
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(toks) >= 5
                    THEN list_transform(range(1, len(toks) - 3),
                                        i -> array_to_string(toks[i:i+4], ' '))
                    ELSE [array_to_string(toks, ' ')] END) AS grams
      FROM t
    ), sizes AS (
      SELECT doc_id, len(grams) AS n FROM sh
    ), posting AS (
      SELECT doc_id, unnest(grams) AS gram FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM posting a JOIN posting b
        ON a.gram = b.gram AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(c * 1.0 / sa.n, 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    WHERE c * 1.0 / sa.n >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 5-gram containment pairs (|A∩B|/|A| ≥ 0.8) — finds
    excerpts/boilerplate living INSIDE larger documents, the direction
    symmetric Jaccard dilutes away. One-sided prefix filter (the
    contained side probes with rare shingles only), exact verification;
    oracle is the unfiltered all-pairs replay."""
    return containment_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", n=5,
        threshold=0.8,
    )


@query(
    "dedup_incremental",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS content_hash
      FROM documents
    ), inc AS (
      SELECT MIN(doc_id) AS doc_id, content_hash
      FROM h WHERE doc_id % 2 = 1 GROUP BY content_hash
    ), corp AS (
      SELECT DISTINCT content_hash FROM h WHERE doc_id % 2 = 0
    )
    SELECT doc_id, content_hash FROM inc
    ANTI JOIN corp USING (content_hash)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: the odd-id half of the corpus arrives as a new
    batch and dedups against the even-id half standing in for the existing
    corpus — within-batch min-id survivors, then a broadcast anti-join
    against the corpus content-hash index. Incremental cost ∝ increment:
    the production shape for a daily ingest against a 100 TB lake."""
    docs = table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    increment = docs.where(F.col("doc_id") % 2 == 1)
    return incremental_exact_dedup(corpus, increment, "doc_id", "text")


@query("dedup_minhash_lsh")  # xxhash64 signatures — no DuckDB equivalent
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified (rows-only check;
    the verification step itself bounds false positives to zero)."""
    return minhash_lsh_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=32,
        bands=8,
        shingle_len=3,
        verify_threshold=0.5,
    )


@query("dedup_simhash")  # xxhash64 signatures — no DuckDB equivalent
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-LSH near-dup pairs (rows-only check; the portable
    md5-hash twin ``dedup_simhash_portable`` is fully oracle-checked)."""
    return simhash_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", hamming_max=7
    )


_TOKS_CTE = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    )
"""

_SHINGLE_CTE = _TOKS_CTE + """
    , shingled AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')))
                  ELSE [array_to_string(tk, ' ')] END AS shingles
      FROM toks
    )
"""


@query(
    "dedup_minhash_portable",
    oracle=_SHINGLE_CTE
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
    ), scored AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS inter,
             len(sa.shingles) AS na, len(sb.shingles) AS nb
      FROM cand
      JOIN shingled sa ON sa.doc_id = id_a
      JOIN shingled sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b,
           ROUND(inter * 1.0 / (na + nb - inter), 6) AS jaccard
    FROM scored WHERE inter * 1.0 / (na + nb - inter) >= 0.5
    """,
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The md5-contract MinHash+LSH pipeline, fully oracle-checked: the
    DuckDB oracle replays shingling, all 16 signature minima, the 4 band
    buckets, candidate generation, AND the exact-Jaccard verification —
    pinning every stage of the LSH pipeline, not just the verified output.
    Same plan shape as ``dedup_minhash_lsh`` (the xxhash64 production
    default); only the hash family differs."""
    return minhash_lsh_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        shingle_len=3,
        verify_threshold=0.5,
        portable=True,
    )


@query(
    "split_leakage",
    oracle=_SHINGLE_CTE
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
    ), scored AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS inter,
             len(sa.shingles) AS na, len(sb.shingles) AS nb
      FROM cand
      JOIN shingled sa ON sa.doc_id = id_a
      JOIN shingled sb ON sb.doc_id = id_b
    ), pairs AS (
      SELECT id_a, id_b FROM scored
      WHERE inter * 1.0 / (na + nb - inter) >= 0.5
    ), splits AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 950 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT LEAST(sa.split, sb.split) AS split_x,
           GREATEST(sa.split, sb.split) AS split_y,
           COUNT(*) AS n_leaked_pairs
    FROM pairs
    JOIN splits sa ON sa.doc_id = id_a
    JOIN splits sb ON sb.doc_id = id_b
    WHERE sa.split <> sb.split
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit — the gate that catches a test set
    leaking into training through near-duplicates (the reason
    deduplication must run BEFORE splitting): near-dup pairs from the
    md5-contract MinHash pipeline joined against the deterministic
    train/valid/test hash split; any pair straddling two splits is
    leakage, reported per split pair.

    Scale shape: the pair set is LSH-bucketed (never all-pairs) and the
    split label is a map-side pure function of the id (no shuffle to
    assign). The label joins carry NO broadcast hint — the splits side
    is corpus-sized, so forcing it driver-side is exactly the OOM hazard
    duplicate_clusters' size gate exists for; AQE broadcasts the (small)
    pair side at runtime instead. The oracle replays the ENTIRE
    pipeline — shingles, 16 minima, band buckets, verification, split
    hash — stage for stage."""
    from openmrs_module_mamba_etl_spark.llm.sampling import hash_split

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        shingle_len=3,
        verify_threshold=0.5,
        portable=True,
    ).select("id_a", "id_b")
    splits = hash_split(
        docs.select("doc_id"),
        "doc_id",
        [("train", 900), ("valid", 950), ("test", 1000)],
    ).select("doc_id", "split")
    sa = splits.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
        "split", "split_a"
    )
    sb = splits.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
        "split", "split_b"
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .groupBy(
            F.least("split_a", "split_b").alias("split_x"),
            F.greatest("split_a", "split_b").alias("split_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_leaked_pairs"))
        .orderBy("split_x", "split_y")
    )


@query(
    "dedup_simhash_portable",
    oracle=_TOKS_CTE
    + """
    , tok AS (
      SELECT doc_id, unnest(tk) AS t FROM toks
    ), th AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h FROM tok
    ), votes AS (
      SELECT doc_id, j.bit,
             SUM(CASE WHEN (h >> j.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) j
      GROUP BY doc_id, j.bit
    ), bits0 AS (
      SELECT doc_id, list(CASE WHEN v > 0 THEN 1 ELSE 0 END ORDER BY bit) AS b
      FROM votes GROUP BY doc_id
    ), bits AS (
      -- token-less docs never reach votes; Spark signs them all-zero
      SELECT t.doc_id,
             COALESCE(b0.b, list_transform(range(0, 32), j -> 0)) AS b
      FROM toks t LEFT JOIN bits0 b0 ON b0.doc_id = t.doc_id
    ), bands AS (
      SELECT doc_id, band,
             list_reduce(b[band*8+1 : band*8+8], (a, x) -> a*2 + x) AS value
      FROM bits CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bb
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.value = y.value AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b,
           CAST(list_sum(list_transform(range(1, 33),
                i -> abs(ba.b[i] - bb2.b[i]))) AS INT) AS hamming
    FROM cand
    JOIN bits ba  ON ba.doc_id  = id_a
    JOIN bits bb2 ON bb2.doc_id = id_b
    WHERE list_sum(list_transform(range(1, 33),
          i -> abs(ba.b[i] - bb2.b[i]))) <= 3
    """,
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The md5-contract SimHash pipeline, fully oracle-checked: 32-bit
    signatures from per-token md5 votes (integer arithmetic — the DuckDB
    replay is exact), 4 hamming bands of 8 bits (pigeonhole-complete for
    distance ≤ 3), full-signature hamming verification. Same plan shape as
    ``dedup_simhash`` (the xxhash64/64-bit production default)."""
    return simhash_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bands=4,
        hamming_max=3,
        n_bits=32,
        portable=True,
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding,
                                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(a.embedding,
                                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding,
                                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
          >= 0.9
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs (brute force at test scale; the
    hyperplane-LSH variant is `dedup_embedding_lsh`)."""
    return embedding_cosine_pairs(
        table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.9,
        brute_force=True,
    )


@query("dedup_semantic")  # IVF cells are data-dependent — rows-only check
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: IVF-cluster the embeddings, drop in-cell
    near-duplicates (cosine ≥ τ, min-id keeper). The synthetic corpus has
    no true semantic duplicates (max pairwise cosine ≈ 0.48), so the demo
    threshold sits inside the observed range to exercise the drop path;
    production default is 0.95. Keep/drop invariant pinned exactly by
    tests/test_llm.py against a brute-force reference."""
    return semantic_dedup(
        table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        n_cells=16,
        threshold=0.35,
    )


_EMB_DIM = 64  # driver testdata embedding width (all SFs; TESTDATA.md)


def _hyperplane_bucket_sql(planes: int, vec: str = "embedding") -> str:
    """DuckDB twin of llm/ann.py:hyperplane_bucket for the fixed seed=42
    projection matrix: the SAME double literals Spark embeds in its plan
    are printed into the SQL (shortest round-trip repr parses back to the
    identical IEEE value), and each plane's dot product is an explicit
    left-associated chain — the exact order Spark's aggregate fold uses —
    so the sign bits, and therefore the buckets, agree bit-for-bit."""
    from openmrs_module_mamba_etl_spark.llm.ann import _hyperplanes

    H = _hyperplanes(_EMB_DIM, planes, seed=42)
    bits = []
    for p in range(planes):
        dot = " + ".join(
            f"(CAST({vec}[{i + 1}] AS DOUBLE) * {float(H[p][i])!r})"
            for i in range(_EMB_DIM)
        )
        bits.append(
            f"(CASE WHEN ({dot}) >= 0.0 THEN {1 << (planes - 1 - p)}"
            " ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def _cos_sql(a: str, b: str) -> str:
    """Parametrized DuckDB cosine between two list columns — the same
    left-to-right fold arithmetic as the Spark ``cosine`` expression."""
    return f"""
    list_sum(list_transform(list_zip({a}, {b}),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform({a},
                                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform({b},
                                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    """


_COS_SQL = """
    list_sum(list_transform(list_zip(a.embedding, c.embedding),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(a.embedding,
                                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(c.embedding,
                                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


@query(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_hyperplane_bucket_sql(8)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           ROUND({_COS_SQL}, 6) AS cosine
    FROM b a JOIN b c
      ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE ROUND({_COS_SQL}, 6) >= 0.9
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH-bucketed cosine dedup — the 100 TB path (candidates
    restricted to same sign-pattern bucket). Oracle-checked: the DuckDB
    oracle carries the same seed-42 projection literals, so buckets —
    and thus the candidate set — replay exactly."""
    _assert_emb_dim(spark, sf_dir)
    return embedding_cosine_pairs(
        table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.9,
        brute_force=False,
        lsh_planes=8,
    )


# --- similarity search ---------------------------------------------------


def _assert_emb_dim(
    spark: SparkSession | None = None,
    sf_dir: str | None = None,
    width: int | None = None,
) -> None:
    """The hyperplane oracles bake 8×_EMB_DIM literals at import time while
    the Spark side infers the width from the data — fail LOUDLY instead of
    hash-mismatching confusingly if a testdata generation changes width.
    Pass ``width`` when the caller already knows it; otherwise the query
    vector is probed."""
    if width is None:
        width = len(_query_vec(spark, sf_dir, 0)[0])
    if width != _EMB_DIM:
        raise AssertionError(
            f"embeddings width {width} != {_EMB_DIM}; regenerate the "
            "hyperplane oracle (_hyperplane_bucket_sql) for the new width"
        )


def _query_vec(
    spark: SparkSession, sf_dir: str, vec_id: int = 0
) -> tuple[list[float], bool]:
    """Probe vector + found flag.

    A missing probe row (empty corpus OR just no vec_id=``vec_id``) must
    score ZERO rows — the oracles all join ``FROM embeddings b, q`` where
    ``q`` is the probe row, so an absent probe empties the result. The
    zero-vector placeholder only keeps the downstream pipeline
    constructible; every caller gates its final frame with
    ``.where(F.lit(found))`` so both engines publish the same empty set."""
    row = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    if row is None:
        return [0.0] * _EMB_DIM, False
    return [float(x) for x in row[0]], True


@query(
    "ann_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT b.vec_id,
           ROUND(
             list_sum(list_transform(list_zip(b.embedding, q.qv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(b.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qv,
                                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             6) AS cosine
    FROM embeddings b, q
    ORDER BY cosine DESC, b.vec_id ASC LIMIT 10
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for a query vector (scan + TakeOrdered)."""
    qv, found = _query_vec(spark, sf_dir, 0)
    return brute_force_topk(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", qv, k=10
    ).where(F.lit(found))


@query(
    "ann_topk_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_hyperplane_bucket_sql(8)} AS bucket
      FROM embeddings
    ), q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT b.vec_id,
           ROUND(
             list_sum(list_transform(list_zip(b.embedding, q.qv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(b.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qv,
                                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             6) AS cosine
    FROM b, q
    WHERE bit_count(xor(b.bucket, q.qb)) <= 2
    ORDER BY cosine DESC, b.vec_id ASC LIMIT 10
    """,
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k (bucket-pruned scan). Oracle-checked: the
    multiprobe set {qbucket plus all ≤2-bit flips} is exactly the bucket
    ball ``bit_count(bucket XOR qbucket) <= 2``, and the oracle carries
    the same seed-42 projection literals, so the pruned candidate set —
    and the top-10 — replay exactly."""
    qv, found = _query_vec(spark, sf_dir, 0)
    _assert_emb_dim(width=len(qv))
    return lsh_topk(
        table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        qv,
        k=10,
        planes=8,
        multiprobe_hamming=2,
    ).where(F.lit(found))


@query("ann_topk_ivf")  # quantizer cells are engine-internal
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: deterministic coarse quantizer (seeded pick + one
    distributed Lloyd step), probe the 4 nearest of 16 cells (rows-only
    check). At scale the table is written partitionBy(ivf_cell) so the
    probe filter is partition pruning, not a full scan."""
    qv, found = _query_vec(spark, sf_dir, 0)
    return ivf_topk(
        table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        qv,
        k=10,
        n_cells=16,
        nprobe=4,
    ).where(F.lit(found))


@query(
    "ann_topk_ivf_portable",
    oracle=f"""
    WITH ranked AS (
      SELECT embedding AS cv,
             ROW_NUMBER() OVER (ORDER BY
               ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
               vec_id ASC) - 1 AS cell
      FROM embeddings
    ), seeds AS (
      SELECT cell, cv FROM ranked WHERE cell < 16
    ), q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), probe AS (
      SELECT s.cell FROM seeds s, q
      ORDER BY {_cos_sql('s.cv', 'q.qv')} DESC, s.cell ASC
      LIMIT 4
    ), assign AS (
      SELECT e.vec_id, e.embedding, s.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.embedding', 's.cv')} DESC,
                        s.cell ASC) AS rn
      FROM embeddings e CROSS JOIN seeds s
    )
    SELECT a.vec_id, ROUND({_cos_sql('a.embedding', 'q.qv')}, 6) AS cosine
    FROM assign a, q
    WHERE a.rn = 1 AND a.cell IN (SELECT cell FROM probe)
    ORDER BY cosine DESC, a.vec_id ASC
    LIMIT 10
    """,
)
def ann_topk_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the md5-seeded portable quantizer — the
    oracle-checked twin of ``ann_topk_ivf`` (which stays rows-only: its
    xxhash64 sample order has no DuckDB equivalent). The oracle replays
    EVERY stage: seed selection in md5-hash order, argmax-cosine cell
    assignment (ties to lowest cell), probe ranking, and final scoring —
    so the IVF mechanics themselves are hash-verified, mirroring what
    ``dedup_minhash_portable`` does for MinHash+LSH."""
    from openmrs_module_mamba_etl_spark.llm.ann import ivf_topk_portable

    qv, found = _query_vec(spark, sf_dir, 0)
    return ivf_topk_portable(
        table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        qv,
        k=10,
        n_cells=16,
        nprobe=4,
    ).where(F.lit(found))


def _pq_slice(col: str) -> str:
    """Subvector m of a 64-wide list column (16 elements, 1-based)."""
    return f"list_slice({col}, sub.m * 16 + 1, sub.m * 16 + 16)"


@query(
    "ann_topk_pq_portable",
    oracle=f"""
    WITH ranked AS (
      SELECT vec_id, embedding AS cv,
             ROW_NUMBER() OVER (ORDER BY
               ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
               vec_id ASC) - 1 AS cell
      FROM embeddings
    ), seeds AS (
      SELECT cell, cv FROM ranked WHERE cell < 16
    ), q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), subs AS (
      SELECT unnest(range(0, 4)) AS m
    ), enc AS (
      SELECT e.vec_id, sub.m, s.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, sub.m ORDER BY
               list_sum(list_transform(
                 list_zip({_pq_slice('e.embedding')}, {_pq_slice('s.cv')}),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) ASC,
               s.cell ASC) AS rn
      FROM embeddings e CROSS JOIN seeds s CROSS JOIN subs sub
    ), lut AS (
      SELECT sub.m, s.cell,
             list_sum(list_transform(
               list_zip({_pq_slice('q.qv')}, {_pq_slice('s.cv')}),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS ip
      FROM seeds s CROSS JOIN subs sub, q
    )
    SELECT e.vec_id,
           ROUND(MAX(CASE WHEN e.m = 0 THEN l.ip END)
               + MAX(CASE WHEN e.m = 1 THEN l.ip END)
               + MAX(CASE WHEN e.m = 2 THEN l.ip END)
               + MAX(CASE WHEN e.m = 3 THEN l.ip END), 6) AS adc_ip
    FROM enc e JOIN lut l ON e.m = l.m AND e.cell = l.cell
    WHERE e.rn = 1
    GROUP BY e.vec_id
    ORDER BY adc_ip DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def ann_topk_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou et al. 2011) — the
    MEMORY-bound ANN scale path: 4 subspaces × 16 md5-seeded codewords
    encode each vector to 4 small ints (64× storage compression at this
    width), and the query scores candidates via its precomputed
    lookup table — 4 array lookups + 3 adds per row, no per-element
    arithmetic in the scan. The oracle replays every stage: seed
    codebooks (same md5 contract as ann_topk_ivf_portable), argmin-L2
    subspace encoding (ties to lowest code), LUT construction, and the
    fixed-order ADC sum. At 100 TB: encode once, store codes, write the
    table partitionBy(ivf_cell) and this becomes IVF-PQ."""
    from openmrs_module_mamba_etl_spark.llm.ann import pq_topk_portable

    qv, found = _query_vec(spark, sf_dir, 0)
    _assert_emb_dim(width=len(qv))
    return pq_topk_portable(
        table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        qv,
        k=10,
        n_sub=4,
        n_codes=16,
    ).where(F.lit(found))


@query(
    "ann_topk_ivfpq_portable",
    oracle=f"""
    WITH ranked AS (
      SELECT vec_id, embedding AS cv,
             ROW_NUMBER() OVER (ORDER BY
               ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
               vec_id ASC) - 1 AS cell
      FROM embeddings
    ), seeds AS (
      SELECT cell, cv FROM ranked WHERE cell < 16
    ), q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), probe AS (
      SELECT s.cell FROM seeds s, q
      ORDER BY {_cos_sql('s.cv', 'q.qv')} DESC, s.cell ASC
      LIMIT 4
    ), assign AS (
      SELECT e.vec_id, e.embedding, s.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.embedding', 's.cv')} DESC,
                        s.cell ASC) AS rn
      FROM embeddings e CROSS JOIN seeds s
    ), cand AS (
      SELECT vec_id, embedding FROM assign
      WHERE rn = 1 AND cell IN (SELECT cell FROM probe)
    ), subs AS (
      SELECT unnest(range(0, 4)) AS m
    ), enc AS (
      SELECT e.vec_id, sub.m, s.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, sub.m ORDER BY
               list_sum(list_transform(
                 list_zip({_pq_slice('e.embedding')}, {_pq_slice('s.cv')}),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) ASC,
               s.cell ASC) AS rn
      FROM cand e CROSS JOIN seeds s CROSS JOIN subs sub
    ), lut AS (
      SELECT sub.m, s.cell,
             list_sum(list_transform(
               list_zip({_pq_slice('q.qv')}, {_pq_slice('s.cv')}),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS ip
      FROM seeds s CROSS JOIN subs sub, q
    )
    SELECT e.vec_id,
           ROUND(MAX(CASE WHEN e.m = 0 THEN l.ip END)
               + MAX(CASE WHEN e.m = 1 THEN l.ip END)
               + MAX(CASE WHEN e.m = 2 THEN l.ip END)
               + MAX(CASE WHEN e.m = 3 THEN l.ip END), 6) AS adc_ip
    FROM enc e JOIN lut l ON e.m = l.m AND e.cell = l.cell
    WHERE e.rn = 1
    GROUP BY e.vec_id
    ORDER BY adc_ip DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def ann_topk_ivfpq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k — the composition FAISS actually ships, assembled
    from this engine's two oracle-checked quantizers: the md5-seeded IVF
    coarse quantizer prunes the scan to 4 of 16 cells (partition pruning
    under a cell-partitioned layout), then PQ asymmetric-distance scoring
    ranks only the surviving candidates through the query's lookup table.
    Cell assignment, probe ranking, PQ encoding, LUT scoring and the
    top-k all replay in the oracle."""
    from openmrs_module_mamba_etl_spark.llm.ann import ivfpq_topk_portable

    qv, found = _query_vec(spark, sf_dir, 0)
    _assert_emb_dim(width=len(qv))
    return ivfpq_topk_portable(
        table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        qv,
        k=10,
        n_cells=16,
        nprobe=4,
        n_sub=4,
        n_codes=16,
    ).where(F.lit(found))


def _kmeans_oracle(k: int = 8, dim: int = 64, iters: int = 2) -> str:
    """Unrolled Lloyd replay: md5-ranked seed centroids on the nano grid,
    per-iteration (argmax-cosine assignment -> exact integer accumulator
    sums -> single-division centroid update), empty cells carrying the
    previous centroid. list(val ORDER BY dim) rebuilds each centroid as
    an ordered list so the cosine is the same left-to-right fold the
    engine uses."""
    parts = [
        f"""WITH ranked AS (
      SELECT vec_id, embedding AS cv,
             ROW_NUMBER() OVER (ORDER BY
               ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
               vec_id ASC) - 1 AS cell
      FROM embeddings
    ), seeds AS (
      SELECT cell, cv FROM ranked WHERE cell < {k}
    ), dims AS (
      SELECT unnest(range(0, {dim})) AS dim
    ), c0 AS (
      SELECT s.cell, d.dim,
             CAST(ROUND(CAST(s.cv[d.dim + 1] AS DOUBLE) * 1000000000.0)
                  AS BIGINT) / 1000000000.0 AS val
      FROM seeds s CROSS JOIN dims d
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", c{i - 1}l AS (
      SELECT cell, list(val ORDER BY dim) AS cv FROM c{i - 1} GROUP BY cell
    ), a{i} AS (
      SELECT e.vec_id, e.embedding, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC,
                        c.cell ASC) AS rn
      FROM embeddings e CROSS JOIN c{i - 1}l c
    ), m{i} AS (
      SELECT vec_id, embedding, cell FROM a{i} WHERE rn = 1
    ), u{i} AS (
      SELECT m.cell, d.dim,
             CAST(SUM(CAST(ROUND(CAST(m.embedding[d.dim + 1] AS DOUBLE)
                                 * 1000000000.0) AS BIGINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM m{i} m CROSS JOIN dims d GROUP BY 1, 2
    ), c{i} AS (
      SELECT p.cell, p.dim,
             COALESCE(u.s / (1000000000.0 * u.n), p.val) AS val
      FROM c{i - 1} p
      LEFT JOIN u{i} u ON u.cell = p.cell AND u.dim = p.dim
    )"""
        )
    parts.append(
        f""", nfinal AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
      FROM m{iters} GROUP BY cell
    )
    SELECT c.cell, c.dim, ROUND(c.val, 6) AS c_val,
           COALESCE(n.n, 0) AS n_members
    FROM c{iters} c LEFT JOIN nfinal n ON n.cell = c.cell"""
    )
    return "".join(parts)


@query("train_kmeans", oracle=_kmeans_oracle(8, 64, 2))
def train_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means TRAINING (2 Lloyd iterations, k=8) over the
    embedding corpus — the clustering sibling of train_logreg. Assignment
    is a codegen argmax over centroid literals (one corpus scan per
    iteration); the update shuffles integer (cell, dim) accumulator cells
    only (posexplode + map-side-combined hash agg, the emb_centroids
    contraction). Components quantize to an int64 NANO grid before
    summing, so accumulators are exact under any aggregation order and
    each new centroid is one double division — which is what lets the
    oracle replay the whole trajectory (seeds, both assignments, counts,
    centroids) bit-for-bit."""
    from openmrs_module_mamba_etl_spark.llm.kmeans import kmeans_train

    emb = table(spark, sf_dir, "embeddings")
    cents, counts = kmeans_train(emb, "vec_id", "embedding", k=8, iters=2)
    rows = [
        (c, d, cents[c][d], counts[c])
        for c in range(len(cents))  # < 8 seeds on a tiny/empty corpus
        for d in range(len(cents[c]))
    ]
    return spark.createDataFrame(
        rows, "cell int, dim int, c_val double, n_members bigint"
    ).select(
        "cell", "dim", F.round("c_val", 6).alias("c_val"), "n_members"
    )


@query(
    "ann_knn_join",
    oracle="""
    WITH scored AS (
      SELECT a.vec_id AS lid, b.vec_id AS rid,
             ROUND(
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding,
                                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b.embedding,
                                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6) AS cosine
      FROM embeddings a, embeddings b
      WHERE a.vec_id < 20
    )
    SELECT lid, rid, cosine FROM (
      SELECT lid, rid, cosine,
             ROW_NUMBER() OVER (PARTITION BY lid
                                ORDER BY cosine DESC, rid ASC) AS rn
      FROM scored
    ) t WHERE rn <= 3
    """,
)
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: 20 query vectors × full table, top-3 neighbors each."""
    emb = table(spark, sf_dir, "embeddings")
    left = emb.where(F.col("vec_id") < 20)
    return knn_join(left, emb, "vec_id", "vec_id", "embedding", k=3)


@query(
    "ann_knn_join_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_hyperplane_bucket_sql(8)} AS bucket
      FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS lid, c.vec_id AS rid,
             ROUND({_COS_SQL}, 6) AS cosine
      FROM b a JOIN b c
        ON bit_count(xor(a.bucket, c.bucket)) <= 1
      WHERE a.vec_id < 20
    )
    SELECT lid, rid, cosine FROM (
      SELECT lid, rid, cosine,
             ROW_NUMBER() OVER (PARTITION BY lid
                                ORDER BY cosine DESC, rid ASC) AS rn
      FROM scored
    ) t WHERE rn <= 3
    """,
)
def ann_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed k-NN join — the scale-safe sibling of ann_knn_join: both
    sides bucket by hyperplane signature, each left row probes its bucket
    ±1 bit flip, candidates meet in an EQUI-join on the bucket id (no
    cross product), top-3 per query via one window. The multiprobe set
    {bucket ⊕ ≤1 flips} is exactly the Hamming ball
    ``bit_count(xor) <= 1``, and the oracle carries the same seed-42
    projection literals, so candidates — and the per-query top-3 —
    replay exactly."""
    _assert_emb_dim(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    left = emb.where(F.col("vec_id") < 20)
    return knn_join_lsh(
        left,
        emb,
        "vec_id",
        "vec_id",
        "embedding",
        dim=_EMB_DIM,
        k=3,
        planes=8,
        multiprobe_hamming=1,
    )


@query(
    "text_zipf",
    oracle=f"""
    WITH freq AS (
      SELECT tok, COUNT(*) AS f
      FROM (SELECT unnest({_TOKS}) AS tok FROM documents
            WHERE text IS NOT NULL)
      GROUP BY tok
    ), ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok ASC) AS r
      FROM freq
    )
    SELECT ROUND(REGR_SLOPE(ln(f), ln(r)), 6) AS zipf_slope,
           ROUND(REGR_R2(ln(f), ln(r)), 6) AS r2,
           COUNT(*) AS vocab_size
    FROM ranked
    """,
)
def text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit — the corpus-health diagnostic: natural
    text has log-frequency ≈ -1 × log-rank; a slope far from -1 (or a
    poor R²) flags synthetic/templated/spam-heavy corpora before
    training does. One token-histogram aggregate, one rank window over
    the (vocab-sized, corpus-independent) frequency table, and a
    sum-of-moments regression — the heavy input never leaves its first
    contraction."""
    from openmrs_module_mamba_etl_spark.functions.similarity import tokens

    freq = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    from pyspark.sql import Window

    ranked = freq.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.col("f").desc(), F.col("tok").asc())
        ),
    )
    lf, lr = F.log(F.col("f")), F.log(F.col("r"))
    return ranked.agg(
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
        F.count(F.lit(1)).alias("vocab_size"),
    )


@query(
    "ann_topk_incremental",
    oracle="""
    SELECT vec_id,
           ROUND(
             list_sum(list_transform(list_zip(b.embedding, q.qv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(b.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qv,
                                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             6) AS cosine
    FROM embeddings b,
         (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)
def ann_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (the interactive-session pattern —
    cf. EDBT 2020's incremental top-k similarity framework, PAPERS.md):
    a standing top-k answer is updated by a NEW data batch without
    rescoring the old corpus — merge(standing top-k, top-k(increment))
    re-ranked to k. Correct because the global top-k is always contained
    in the union of per-partition top-ks (monotone merge invariant); the
    oracle is the full-recompute top-k over everything, so parity PROVES
    the incremental path equals the one-shot answer. At scale the
    standing answer is k rows — the increment is the only thing scored
    per tick."""
    qv, found = _query_vec(spark, sf_dir, 0)
    _assert_emb_dim(width=len(qv))
    emb = table(spark, sf_dir, "embeddings")
    standing_corpus = emb.where(F.col("vec_id") % 2 == 0)
    increment = emb.where(F.col("vec_id") % 2 == 1)
    standing = brute_force_topk(standing_corpus, "vec_id", "embedding", qv, k=10)
    delta = brute_force_topk(increment, "vec_id", "embedding", qv, k=10)
    return (
        standing.unionByName(delta)
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
        .where(F.lit(found))
    )


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_hyperplane_bucket_sql(8)} AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, embedding AS qv, bucket AS qb
      FROM b WHERE vec_id < 5
    ), scored AS (
      SELECT q.qid, b.vec_id, b.bucket, q.qb,
             ROUND(
               list_sum(list_transform(list_zip(b.embedding, q.qv),
                                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(b.embedding,
                                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6) AS cosine
      FROM b CROSS JOIN q
    ), brute AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 10
    ), lsh AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id ASC) AS rn
        FROM scored WHERE bit_count(xor(bucket, qb)) <= 2
      ) WHERE rn <= 10
    )
    SELECT brute.qid,
           ROUND(COUNT(lsh.vec_id) / 10.0, 6) AS recall_at_10
    FROM brute LEFT JOIN lsh
      ON brute.qid = lsh.qid AND brute.vec_id = lsh.vec_id
    GROUP BY brute.qid ORDER BY brute.qid
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@10 of the multiprobe-LSH index against
    exact brute force, per query — the evaluation every approximate
    index needs before it replaces the exact path in production. Both
    pipelines are deterministic (seed-42 projections, id tiebreaks), so
    the whole evaluation — ground truth, candidates, and the recall
    division — replays in the oracle. Scale shape: ground truth costs
    one brute pass over the N EVAL queries only (not the corpus
    workload); candidates are the bucket-pruned set."""
    from pyspark.sql import Window

    _assert_emb_dim(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    brute = knn_join(queries_df, emb, "vec_id", "vec_id", "embedding", k=10)
    lsh = knn_join_lsh(
        queries_df,
        emb,
        "vec_id",
        "vec_id",
        "embedding",
        dim=_EMB_DIM,
        k=10,
        planes=8,
        multiprobe_hamming=2,
    )
    hits = brute.select("lid", "rid").join(
        lsh.select("lid", "rid").withColumn("hit", F.lit(1)),
        ["lid", "rid"],
        "left",
    )
    return (
        hits.groupBy(F.col("lid").alias("qid"))
        .agg(F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 10.0, 6).alias("recall_at_10"))
        .orderBy("qid")
    )


# --- text analysis -------------------------------------------------------

_BM25_TERMS = ("spark", "shuffle", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bpe_cte_parts(n_merges: int) -> list[str]:
    """The shared CTE chain replaying the BPE merge loop in DuckDB: vocab
    → per-round (pair counts → argmax m{i} → greedy merge r{i} via the
    same double-space replace trick). ``replace`` is left-to-right
    non-overlapping in both engines, so representations — and every
    round's argmax — agree. Used by both the merge-table oracle
    (text_bpe_merges) and the application oracle (text_apply_bpe)."""
    parts = [
        f"""WITH v AS (
          SELECT w, COUNT(*) AS freq
          FROM (SELECT unnest({_TOKS}) AS w FROM documents
                WHERE text IS NOT NULL) GROUP BY w
        ), r0 AS (
          SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS rep, freq
          FROM v
        )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""", p{i} AS (
          SELECT pair, SUM(freq) AS freq FROM (
            SELECT s.syms[i] || ' ' || s.syms[i + 1] AS pair, s.freq
            FROM (SELECT string_split(rep, ' ') AS syms, freq
                  FROM r{i - 1}) s,
                 unnest(range(1, len(s.syms))) t(i)
          ) GROUP BY pair
        ), m{i} AS (
          SELECT pair, freq FROM p{i}
          ORDER BY freq DESC, pair ASC LIMIT 1
        ), r{i} AS (
          SELECT trim(replace(replace(
                   ' ' || replace(rep, ' ', '  ') || ' ',
                   ' ' || replace((SELECT pair FROM m{i}), ' ', '  ') || ' ',
                   ' ' || replace((SELECT pair FROM m{i}), ' ', '') || ' '),
                 '  ', ' ')) AS rep, freq
          FROM r{i - 1}
        )"""
        )
    return parts


def _bpe_oracle(n_merges: int = 3) -> str:
    """Merge-table oracle: the learned (rank, pair, freq) rows."""
    sel = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, pair, CAST(freq AS BIGINT) AS freq"
        f" FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return "".join(_bpe_cte_parts(n_merges)) + "\n" + sel


def _apply_bpe_oracle(n_merges: int = 3) -> str:
    """Application oracle: every document re-tokenized with the learned
    merge table. Each word starts at its char-split representation and
    replays the merge chain (scalar-subquery pairs from m1..m{n}, same
    double-space replace), then per-doc word/symbol counts roll up."""
    rep = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    for i in range(1, n_merges + 1):
        rep = (
            f"trim(replace(replace("
            f" ' ' || replace({rep}, ' ', '  ') || ' ',"
            f" ' ' || replace((SELECT pair FROM m{i}), ' ', '  ') || ' ',"
            f" ' ' || replace((SELECT pair FROM m{i}), ' ', '') || ' '),"
            f" '  ', ' '))"
        )
    return (
        "".join(_bpe_cte_parts(n_merges))
        + f""", dtoks AS (
          SELECT doc_id, unnest({_TOKS}) AS w FROM documents
          WHERE text IS NOT NULL
        ), applied AS (
          SELECT doc_id, {rep} AS rep FROM dtoks
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(string_split(rep, ' '))) AS BIGINT) AS n_syms
        FROM applied GROUP BY doc_id"""
    )


@query("text_bpe_merges", oracle=_bpe_oracle(3))
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction (Sennrich 2016): learn the corpus's top-3
    byte-pair merges. The corpus is scanned ONCE (word vocab); every
    merge round runs over the contracted vocab table with a 1-row argmax
    collect — the classic scalable shape. The oracle unrolls the loop to
    chained CTEs and replays the greedy merge with the identical
    double-space replace, so each round's argmax matches exactly."""
    from openmrs_module_mamba_etl_spark.llm.bpe import bpe_train

    merges = bpe_train(table(spark, sf_dir, "documents"), "text", n_merges=3)
    return spark.createDataFrame(
        merges, "merge_rank int, pair string, freq bigint"
    )


@query("text_apply_bpe", oracle=_apply_bpe_oracle(3))
def text_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale — the other half of BPE:
    learn the merge table once (driver-bounded argmax loop over the
    contracted vocab, same as text_bpe_merges), then re-tokenize every
    document with it. The learned pairs embed as literals in a codegen
    string-rewrite chain (``apply_merges_col``) evaluated per word inside
    higher-order functions — applying a trained tokenizer to 100 TB is a
    map-only pass with zero shuffles and zero Python. Output: per-doc
    word and post-merge symbol counts (what a token-budgeted packing
    stage consumes). The oracle replays the full chain: merge selection
    CTEs, then the identical double-space replaces per word."""
    from openmrs_module_mamba_etl_spark.functions.similarity import bind, tokens
    from openmrs_module_mamba_etl_spark.llm.bpe import apply_merges_col, bpe_train

    docs = table(spark, sf_dir, "documents")
    pairs = [p for _, p, _ in bpe_train(docs, "text", n_merges=3)]

    # bind(): n_words and n_syms both reference the token array — HOFs
    # get no codegen subexpression elimination, so unbound the tokenizer
    # ran twice per row on this map-only 100 TB pass (r14 sweep).
    def counts_of(t: Column) -> Column:
        n_syms = F.aggregate(
            F.transform(
                t, lambda w: F.size(F.split(apply_merges_col(w, pairs), " "))
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.struct(
            F.size(t).cast("long").alias("n_words"), n_syms.alias("n_syms")
        )

    # The n_words>0 gate runs BELOW the projection as its cheap
    # equivalent (size(tokens)>0): a post-projection filter on a derived
    # column gets alias-inlined by predicate pushdown — which would
    # re-evaluate the whole bound struct (incl. the per-word merge chain)
    # a second time per row (measured +60% — the guide-§4.4 duplication,
    # HOF edition).
    return (
        docs.where(F.col("text").isNotNull())
        .where(F.size(tokens(F.col("text"))) > 0)
        .select("doc_id", bind(tokens(F.col("text")), counts_of).alias("_d"))
        .select(
            "doc_id",
            F.col("_d.n_words").alias("n_words"),
            F.col("_d.n_syms").alias("n_syms"),
        )
    )


def _classifier_weights(n: int = 64, seed: int = 7) -> list[float]:
    """Deterministic stand-in for trained fasttext-style weights; the same
    double literals embed in the Spark plan AND the oracle SQL (shortest
    repr round-trips to the identical IEEE value — the hyperplane-LSH
    contract)."""
    import numpy as np

    return [float(x) for x in np.random.RandomState(seed).normal(size=n)]


_CLF_W = _classifier_weights()
_CLF_BIAS = 0.1


@query(
    "text_classifier_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
      WHERE text IS NOT NULL AND len({_TOKS}) > 0
    ), p AS (
      SELECT doc_id, unnest(toks) AS tok FROM t
    ), s AS (
      SELECT doc_id,
             SUM(list_extract(
                   [{", ".join(repr(w) for w in _CLF_W)}],
                   CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64
                        AS INT) + 1)) AS wsum,
             COUNT(*) AS n
      FROM p GROUP BY doc_id
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-(wsum / n + {_CLF_BIAS}))), 6)
             AS quality_score,
           CASE WHEN 1.0 / (1.0 + exp(-(wsum / n + {_CLF_BIAS}))) >= 0.5
                THEN 'keep' ELSE 'drop' END AS label
    FROM s
    """,
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference at corpus scale (the fasttext quality-classifier
    pattern): hashed bag-of-tokens × broadcast weight-vector literal →
    sigmoid → keep/drop. One map-side codegen pass, no shuffle, no model
    server; the md5 feature hash and the weight literals replay in the
    oracle so scores match to 6 dp."""
    from openmrs_module_mamba_etl_spark.llm.curation import classifier_score

    return classifier_score(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        weights=_CLF_W,
        bias=_CLF_BIAS,
    )


@query(
    "text_bm25",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
    ), d AS (
      SELECT doc_id, len(toks) AS dl FROM t
    ), stats AS (
      SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM d
    ), posting AS (
      SELECT doc_id, unnest(toks) AS tok FROM t
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM posting
      WHERE tok IN ({", ".join(f"'{w}'" for w in _BM25_TERMS)})
      GROUP BY doc_id, tok
    ), idf AS (
      SELECT tok,
             ln((((SELECT n FROM stats) - COUNT(*) + 0.5)
                 / (COUNT(*) + 0.5)) + 1.0) AS idf
      FROM tf GROUP BY tok
    ), scored AS (
      SELECT tf.doc_id,
             SUM(idf.idf * tf.tf * ({_BM25_K1} + 1.0)
                 / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * d.dl / (SELECT avgdl FROM stats)))) AS s
      FROM tf
      JOIN idf USING (tok)
      JOIN d ON d.doc_id = tf.doc_id
      GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(s, 6) AS bm25
    FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 corpus search (Robertson/Spärck Jones; the Okapi form with the
    +1 idf floor) for a fixed query — the retrieval primitive a training
    pipeline uses for corpus exploration and hard-negative mining.

    Scale shape: term document-frequencies and (N, avgdl) are TWO tiny
    aggregates whose outputs come back to the driver as a handful of
    scalars and re-enter the plan as literals — the corpus itself is
    scanned once more for scoring, entirely map-side (per-doc tf via a
    codegen list filter; no explode, no shuffle except the final top-k
    TakeOrdered). At 100 TB: 2 contracted passes + 1 map pass, no posting
    list ever materializes."""
    from openmrs_module_mamba_etl_spark.functions.similarity import tokens

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .withColumn("dl", F.size("toks"))
    )
    n, avgdl = docs.agg(F.count(F.lit(1)), F.avg("dl")).first()
    avgdl = avgdl if avgdl is not None else 1.0  # empty corpus: no rows score
    tf_cols = {
        w: F.size(F.filter(F.col("toks"), lambda x: x == F.lit(w))).cast("double")
        for w in _BM25_TERMS
    }
    dfs = docs.agg(
        *[
            F.count(F.when(tf_cols[w] > 0, 1)).alias(w)
            for w in _BM25_TERMS
        ]
    ).first()
    import math

    idf = {
        w: math.log((n - dfs[w] + 0.5) / (dfs[w] + 0.5) + 1.0)
        for w in _BM25_TERMS
    }
    norm = F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.lit(float(avgdl))
    )
    score = None
    for w in _BM25_TERMS:
        tf = tf_cols[w]
        term_s = F.when(
            tf > 0, F.lit(idf[w]) * tf * F.lit(_BM25_K1 + 1.0) / (tf + norm)
        ).otherwise(F.lit(0.0))
        score = term_s if score is None else score + term_s
    return (
        docs.select("doc_id", F.round(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )

_STOP_SQL = {
    code: "(" + ", ".join(f"'{w}'" for w in words) + ")"
    for code, words in T.STOPWORDS.items()
}

_RATIOS = ",\n".join(
    f"""CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, x -> x IN {_STOP_SQL[code]})) * 1.0 / len(toks)
         ELSE 0.0 END AS r_{code}"""
    for code in sorted(T.STOPWORDS)
)


@query(
    "text_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    r AS (SELECT doc_id, {_RATIOS} FROM t),
    g AS (SELECT *, GREATEST(r_de, r_en, r_es, r_fr) AS best FROM r)
    SELECT doc_id,
           CASE WHEN r_de = best AND best >= 0.05 THEN 'de'
                WHEN r_en = best AND best >= 0.05 THEN 'en'
                WHEN r_es = best AND best >= 0.05 THEN 'es'
                WHEN r_fr = best AND best >= 0.05 THEN 'fr'
                ELSE 'und' END AS lang_pred
    FROM g
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-evidence language ID (n-gram heuristic)."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", T.lang_id(F.col("text")).alias("lang_pred")
    )


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_tok,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN {_STOP_SQL['en']})) * 1.0 / len(toks)
                  ELSE 0.0 END AS stop_ratio,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS mwl,
             length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g'))
               AS n_punct
      FROM t
    )
    SELECT doc_id,
           CAST(ROUND(
             (CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN stop_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.2 ELSE 0.0 END)
             + (CASE WHEN n_punct <= length(text) * 0.1 THEN 0.1 ELSE 0.0 END),
             2) AS DOUBLE) AS quality
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length/stopword/word-shape/punct bands)."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    )


@query(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           len({_TOKS}) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))
             AS n_bpe_tokens,
           length(text) AS n_chars_calc
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex pretokens."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        T.whitespace_token_count(F.col("text")).alias("n_ws_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_calc"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 4
                  THEN list_transform(range(1, len(toks) - 2),
                                      i -> array_to_string(toks[i:i+3], ' '))
                  ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM t
    )
    SELECT doc_id,
           list_min(list_transform(shingles, x -> md5(x))) AS fp,
           md5(array_to_string(toks, ' ')) AS content_hash
    FROM s JOIN t USING (doc_id)
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min-hash fingerprint + exact content hash."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        T.fingerprint(F.col("text"), 4).alias("fp"),
        T.content_hash(F.col("text")).alias("content_hash"),
    )


# --- multimodal ----------------------------------------------------------


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           sha256(text) AS sha256,
           'application/octet-stream' AS mime
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column + JVM-side typed metadata (size, sha256)."""
    media = documents_as_media(table(spark, sf_dir, "documents"))
    return media_metadata(media)


@query(
    "multimodal_dedup",
    oracle="""
    SELECT sha256(text) AS content_sha,
           MIN(doc_id) AS kept_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the opaque binary payload (sha256 hash aggregate —
    the multimodal sibling of dedup_exact; media bytes never shuffle)."""
    media = documents_as_media(table(spark, sf_dir, "documents"))
    return media_dedup(media)


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           sha256(text) AS sha256,
           CAST(64 + ('0x' || substr(sha256(text), 1, 2))::BIGINT % 192 AS INT)
             AS width,
           CAST(64 + ('0x' || substr(sha256(text), 3, 2))::BIGINT % 192 AS INT)
             AS height
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode plumbing. The deterministic stub
    kernel derives dimensions from the payload's sha256, so the oracle can
    replay the whole batch-iteration contract in SQL — pinning that the
    Python seam where a real PIL/cv2 decoder plugs in sees every payload
    exactly once with intact bytes."""
    media = documents_as_media(table(spark, sf_dir, "documents"))
    return decode_images(media, n_features=16, fake=True).drop("features")


@query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id AS media_id, 32 AS width, 32 AS height,
           3072 AS n_bytes_resized
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-shape resize contract: every payload becomes exactly
    width × height × 3 bytes (deterministic stub kernel; the size contract
    IS the oracle — real PIL/cv2 kernels swap in behind the same seam)."""
    media = documents_as_media(table(spark, sf_dir, "documents"))
    resized = resize_images(media, width=32, height=32, fake=True)
    return resized.where(F.col("content").isNotNull()).select(
        "media_id",
        "width",
        "height",
        F.octet_length("content").alias("n_bytes_resized"),
    )


@query(
    "multimodal_decode_real",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(4 + doc_id % 13 AS INT) AS width,
           CAST(3 + doc_id % 7 AS INT) AS height
    FROM documents WHERE doc_id % 17 = 0 AND text IS NOT NULL
    """,
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path end-to-end: synthesize an actual PNG per sampled
    document (pure-python encoder, pixels from the text bytes, dimensions
    a function of doc_id), then decode with ``fake=False`` — PIL when
    importable, else the pure-python PNG decoder (llm/png.py). The oracle
    pins that decode recovers the constructed dimensions exactly, i.e. a
    real encode→decode round trip survives the Arrow-batched mapInPandas
    plumbing. Sampled 1-in-17 so the Python encode stays off the hot
    path."""
    import pandas as pd

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
                payload = (text.encode() or b"\x00") * (need // max(1, len(text)) + 2)
                out_ids.append(did)
                out_png.append(encode_png(w, h, payload[:need]))
            yield pd.DataFrame(
                {
                    "media_id": out_ids,
                    "content": out_png,
                    "mime": "image/png",
                    "source_uri": [f"synthetic://{i}" for i in out_ids],
                }
            )

    from openmrs_module_mamba_etl_spark.llm.multimodal import MEDIA_SCHEMA

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    return decode_images(media, n_features=4, fake=False).select(
        "media_id", "width", "height"
    )


@query(
    "multimodal_frames",
    oracle="""
    SELECT doc_id AS media_id,
           LEAST(8, GREATEST(1, octet_length(CAST(text AS BLOB)) // 1024))
             AS n_frames
    FROM documents
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out: frames per media item (count per id is
    oracle-checkable even though frame bytes are kernel-internal)."""
    media = documents_as_media(table(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n_bytes=1024, max_frames=8)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames")
    )


@query(
    "multimodal_frames_real",
    oracle="""
    SELECT doc_id AS media_id,
           LEAST(8, 2 + CAST(doc_id % 5 AS BIGINT)) AS n_frames,
           48 AS frame_n_bytes
    FROM documents WHERE doc_id % 29 = 0 AND text IS NOT NULL
    """,
)
def multimodal_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video codec path end-to-end: synthesize an actual Y4M stream
    per sampled document (pure-python encoder, llm/y4m.py; 2 + doc_id % 5
    frames of 4×4 RGB derived from the text bytes), frame-sample with
    ``fake=False`` (cap 8), and verify the decoded fan-out: frames per
    media item and the fixed raw-RGB frame size, both recomputed by the
    oracle from the construction. Sampled 1-in-29 to keep the Python
    encode off the hot path."""
    import pandas as pd

    from openmrs_module_mamba_etl_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        sample_frames,
    )
    from openmrs_module_mamba_etl_spark.llm.y4m import encode_y4m

    docs = (
        table(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 29 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    w = h = 4

    def encode(it):
        for pdf in it:
            ids, vids = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = 2 + did % 5
                need = w * h * 3
                raw = (text.encode() or b"\x00") * (need * n // max(1, len(text)) + 2)
                frames = [
                    bytes(raw[i * need : (i + 1) * need]) for i in range(n)
                ]
                ids.append(did)
                vids.append(encode_y4m(w, h, frames))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": vids,
                    "mime": "video/x-yuv4mpeg",
                    "source_uri": [f"synthetic://{i}" for i in ids],
                }
            )

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    frames = sample_frames(media, max_frames=8, fake=False)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max(F.octet_length("frame_bytes")).cast("int").alias("frame_n_bytes"),
    )


@query(
    "multimodal_audio_real",
    oracle="""
    SELECT doc_id AS media_id,
           8000 + CAST(doc_id % 3 AS INT) * 4000 AS sample_rate,
           (octet_length(CAST(text AS BLOB)) * 40) * 1000
             // (8000 + (doc_id % 3) * 4000) AS duration_ms
    FROM documents
    WHERE doc_id % 23 = 0 AND text IS NOT NULL
      AND octet_length(CAST(text AS BLOB)) > 0
    """,
)
def multimodal_audio_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path end-to-end: synthesize an actual 16-bit PCM
    WAV per sampled document (pure-python encoder, llm/wav.py; 40 samples
    per text byte, rate a function of doc_id), then decode with
    ``fake=False`` — header rate and exact sample-count duration must
    round-trip through the Arrow-batched mapInPandas plumbing, which the
    oracle recomputes from the construction. Sampled 1-in-23 to keep the
    Python encode off the hot path."""
    import numpy as np
    import pandas as pd

    from openmrs_module_mamba_etl_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
    )
    from openmrs_module_mamba_etl_spark.llm.wav import encode_wav

    docs = (
        table(spark, sf_dir, "documents")
        .where(
            (F.col("doc_id") % 23 == 0)
            & F.col("text").isNotNull()
            # empty text would diverge from the oracle's byte arithmetic
            # (no bytes → 0 samples, but a WAV needs ≥0 data; excluded on
            # BOTH sides so the contract stays exact)
            & (F.length("text") > 0)
        )
        .select("doc_id", "text")
    )

    def encode(it):
        for pdf in it:
            ids, wavs = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                rate = 8000 + (did % 3) * 4000
                raw = np.frombuffer(text.encode() * 40, dtype=np.uint8)
                samples = (raw.astype(np.int16) - 128) * 256
                ids.append(did)
                wavs.append(encode_wav(rate, samples))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": wavs,
                    "mime": "audio/wav",
                    "source_uri": [f"synthetic://{i}" for i in ids],
                }
            )

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    return extract_audio_features(media, n_mfcc=8, fake=False).select(
        "media_id", "sample_rate", "duration_ms"
    )


@query(
    "text_vocab",
    oracle=f"""
    WITH posting AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    )
    SELECT token, COUNT(*) AS freq
    FROM posting GROUP BY token
    ORDER BY freq DESC, token ASC LIMIT 100
    """,
)
def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: token document-frequency via explode +
    hash aggregate + TakeOrdered top-k (no global sort). The same posting
    shape the Jaccard index and stopword analyses build on."""
    from openmrs_module_mamba_etl_spark.functions.similarity import tokens

    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(100)
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents
    ), sizes AS (
      SELECT doc_id, len(t) AS n FROM toks
    ), posting AS (
      SELECT doc_id, unnest(t) AS token FROM toks
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM posting a JOIN posting b
        ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.9
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(root) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components (iterative
    min-label propagation) over 0.9-Jaccard pairs. Pairwise matches alone
    over-keep documents — A≈B≈C must collapse to one survivor even when
    A≉C directly; cluster_id = the canonical (min-id) representative."""
    from openmrs_module_mamba_etl_spark.llm.dedup import duplicate_clusters

    pairs = token_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.9
    )
    return duplicate_clusters(pairs)


@query(
    "text_curate",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_tok,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN {_STOP_SQL['en']})) * 1.0 / len(toks)
                  ELSE 0.0 END AS stop_ratio,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS mwl,
             length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g'))
               AS n_punct
      FROM t
    ), scored AS (
      SELECT doc_id, toks,
             CAST(ROUND(
               (CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN stop_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN n_punct <= length(text) * 0.1 THEN 0.1 ELSE 0.0 END),
               2) AS DOUBLE) AS quality
      FROM m
    ), survivors AS (
      SELECT md5(array_to_string({_TOKS}, ' ')) AS h, MIN(doc_id) AS kept_id
      FROM documents GROUP BY 1
    )
    SELECT s.doc_id, s.quality
    FROM scored s
    JOIN survivors k ON s.doc_id = k.kept_id
    WHERE s.quality >= 0.7
    """,
)
def text_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation composite: keep exact-dedup survivors whose quality
    score clears 0.7 — the canonical filter chain (dedup ∘ quality) a
    training pipeline runs before tokenization. ZERO joins: content hash
    and quality are computed map-side, then one window min over the
    content-hash partitioning decides kept-ness per row in the same pass.
    The shuffle carries (doc_id, hash, quality) tuples only — no document
    bytes, no survivor-set broadcast (the round-4 scale-killer: the
    survivor set is ~corpus-sized and must never be a broadcast build
    side)."""
    from pyspark.sql import Window

    from openmrs_module_mamba_etl_spark.llm.dedup import content_hash

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash")
    return (
        docs.select(
            "doc_id",
            content_hash(F.col("text")).alias("content_hash"),
            T.quality_score(F.col("text")).alias("quality"),
        )
        .withColumn("kept_id", F.min("doc_id").over(w))
        .where(
            (F.col("doc_id") == F.col("kept_id"))
            & (F.col("quality") >= 0.7)
        )
        .select("doc_id", "quality")
    )


@query(
    "multimodal_audio",
    oracle="""
    SELECT doc_id AS media_id, 16000 AS sample_rate,
           octet_length(CAST(text AS BLOB)) * 1000 // 32000 AS duration_ms,
           13 AS n_mfcc
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature plumbing: 16-bit-PCM duration contract + MFCC-shaped
    vector via the Arrow mapInPandas seam (deterministic stub kernel; the
    duration arithmetic and vector shape are the oracle-checkable part)."""
    from openmrs_module_mamba_etl_spark.llm.multimodal import (
        extract_audio_features,
    )

    media = documents_as_media(table(spark, sf_dir, "documents"))
    feats = extract_audio_features(media, sample_rate=16_000, n_mfcc=13)
    return feats.where(F.col("mfcc").isNotNull()).select(
        "media_id",
        "sample_rate",
        "duration_ms",
        F.size("mfcc").alias("n_mfcc"),
    )


# --- curation: decontamination + repetition filters ----------------------

#: DuckDB 5-gram shingles from a `toks` list column (mirrors
#: functions.similarity.word_shingles(text, 5): distinct, whole-text
#: fallback for short docs).
_SH5 = """list_distinct(CASE WHEN len(toks) >= 5
        THEN list_transform(range(1, len(toks) - 3),
                            i -> array_to_string(toks[i:i+4], ' '))
        ELSE [array_to_string(toks, ' ')] END)"""


@query(
    "text_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, source, {_SH5} AS sh FROM t),
    bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE source = 'src9'),
    corp AS (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE source <> 'src9')
    SELECT doc_id, COUNT(*) AS n_hit_shingles
    FROM corp JOIN bench USING (shingle)
    GROUP BY doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 5-gram with the
    held-out benchmark slice (source src9 stands in for an eval suite).
    Benchmark shingle set is broadcast — the 100 TB corpus is never
    shuffled on shingle, only partial-agged on doc_id."""
    from openmrs_module_mamba_etl_spark.llm.curation import decontaminate

    docs = table(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("source") != "src9"),
        docs.where(F.col("source") == "src9"),
        "doc_id",
        "text",
        n=5,
    )


@query(
    "text_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g3 AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [] END AS g
      FROM t
    ), base AS (
      SELECT doc_id,
             ROUND(CASE WHEN len(g) > 0
                        THEN 1.0 - len(list_distinct(g)) * 1.0 / len(g)
                        ELSE 0.0 END, 6) AS dup_3gram_frac
      FROM g3
    ), g2 AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                                      i -> array_to_string(toks[i:i+1], ' '))
                  ELSE [] END AS g
      FROM t
    ), c AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(g) AS gram FROM g2) GROUP BY 1, 2
    ), top2 AS (
      SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_2gram_frac
      FROM c GROUP BY doc_id
    )
    SELECT b.doc_id, b.dup_3gram_frac,
           COALESCE(t2.top_2gram_frac, 0.0) AS top_2gram_frac,
           (b.dup_3gram_frac >= 0.05 OR COALESCE(t2.top_2gram_frac, 0.0) >= 0.12)
             AS flagged
    FROM base b LEFT JOIN top2 t2 USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-3-gram fraction
    (expression-side, no explode) and top-2-gram share (one explode + two
    id-keyed hash aggregates), with the combined flag."""
    from openmrs_module_mamba_etl_spark.llm.curation import repetition_stats

    return repetition_stats(table(spark, sf_dir, "documents"), "doc_id", "text")


# --- embedding vector substrate ------------------------------------------


@query(
    "emb_normalize",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT e.vec_id, ROUND(n.nrm, 6) AS nrm,
           array_to_string(
             CASE WHEN n.nrm > 0
                  THEN list_transform(e.embedding,
                         x -> printf('%.6f',
                                ROUND(CAST(x AS DOUBLE) / n.nrm, 6)))
                  ELSE list_transform(e.embedding,
                         x -> printf('%.6f', 0.0))
             END, ',') AS unit
    FROM embeddings e JOIN n USING (vec_id)
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize embedding vectors (the preprocessing step every
    cosine ANN index assumes): norm + per-element division, all JVM-side
    array expressions — map-only, no shuffle, no Python.

    The unit vector is emitted as a canonical fixed-decimal CSV string
    (``%.6f`` per element) rather than a raw ``array<double>`` — the
    driver's pandas canonicalizer cannot sort list cells (round-3 red),
    and a scalar string compares engine-portably."""
    from openmrs_module_mamba_etl_spark.functions.similarity import bind, norm

    e = table(spark, sf_dir, "embeddings")

    # bind(): the norm is an O(dim) fold previously referenced from
    # INSIDE the per-element division lambda — an O(dim²)-per-row
    # re-evaluation (the same class quantize_int8 had before r13) plus
    # two more references (guard, output). One evaluation per row
    # restores the intended O(dim); values unchanged.
    def from_nrm(nv: Column) -> Column:
        unit = F.when(
            nv > 0,
            F.transform(
                "embedding",
                lambda x: F.format_string(
                    "%.6f", F.round(x.cast("double") / nv, 6)
                ),
            ),
        ).otherwise(
            F.transform(
                "embedding", lambda x: F.format_string("%.6f", F.lit(0.0))
            )
        )
        return F.struct(
            F.round(nv, 6).alias("nrm"),
            F.array_join(unit, ",").alias("unit"),
        )

    return e.select(
        "vec_id", bind(norm(F.col("embedding")), from_nrm).alias("_d")
    ).select(
        "vec_id",
        F.col("_d.nrm").alias("nrm"),
        F.col("_d.unit").alias("unit"),
    )


@query(
    "emb_centroids",
    oracle="""
    SELECT label, pos,
           ROUND(AVG(CAST(v AS DOUBLE)), 6) AS centroid,
           COUNT(*) AS n_vecs
    FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids in long form (label, dimension, mean): the
    distributed array-aggregation pattern — posexplode to (label, pos)
    and hash-aggregate, so no task ever holds a label's full vector set
    (collect_list of whole vectors would); partial aggregation halves the
    shuffle. Reassembly to array form is a 64-row sort per label when a
    consumer wants it."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    return (
        ex.groupBy("label", (F.col("pos") + 1).alias("pos"))
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


@query(
    "text_exact_substr",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
        SELECT doc_id, t,
               unnest(generate_series(1, GREATEST(len(t) - 9, 0))) AS i
        FROM toks
    ),
    sh AS (
        SELECT doc_id, array_to_string(t[i:i+9], ' ') AS span FROM pos
    ),
    freq AS (
        SELECT span, COUNT(*) AS span_count FROM sh GROUP BY span
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_spans,
           COUNT(CASE WHEN f.span_count >= 2 THEN 1 END) AS dup_spans,
           ROUND(COUNT(CASE WHEN f.span_count >= 2 THEN 1 END) * 1.0
                 / COUNT(*), 4) AS dup_frac
    FROM sh JOIN freq f ON sh.span = f.span
    GROUP BY sh.doc_id
    """,
)
def text_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate-span scoring (Lee et al. 2021): per-doc
    fraction of 10-token span positions that occur >=2 times anywhere in
    the corpus — the measurement pass that decides substring-level dedup.
    One span-keyed shuffle for the frequency table; the join back reuses
    the same hash partitioning. At 100 TB, spans shuffle as 64-bit
    fingerprints, not strings (see llm/curation.py)."""
    from openmrs_module_mamba_etl_spark.llm.curation import (
        duplicate_span_stats,
    )

    docs = table(spark, sf_dir, "documents")
    return duplicate_span_stats(docs, "doc_id", "text", n=10)


@query(
    "emb_quantize",
    oracle="""
    SELECT vec_id,
           array_to_string(
             CASE WHEN m > 0
                  THEN list_transform(emb, x -> CAST(ROUND(x * 127.0 / m)
                                                     AS INTEGER))
                  ELSE list_transform(emb, x -> 0)
             END, ',') AS q8,
           ROUND(m, 6) AS max_abs
    FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) AS m
        FROM embeddings
    )
    """,
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4x-compression storage path for corpus-scale vector retention
    (candidate generation runs on int8, the short list re-ranks exact).
    Map-only codegen expression: no shuffle, no Python; at 100 TB this is
    a streaming rewrite bounded by I/O.

    ``q8`` is emitted as a CSV string of the int8 codes (not a raw
    ``array<int>``) so the driver's scalar canonicalizer can hash it —
    the production writer keeps the packed array form."""
    from openmrs_module_mamba_etl_spark.functions.similarity import (
        quantize_int8,
    )

    e = table(spark, sf_dir, "embeddings")
    max_abs = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    return e.select(
        "vec_id",
        F.array_join(
            F.transform(
                quantize_int8(F.col("embedding")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("q8"),
        F.round(max_abs, 6).alias("max_abs"),
    )


# --- LM scoring + PII scrubbing ------------------------------------------


@query(
    "text_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents WHERE text IS NOT NULL
    ), pos AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
      FROM toks
    ), bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2 FROM pos
    ), cbg AS (
      SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY 1, 2
    ), cctx AS (
      SELECT w1, COUNT(*) AS c_ctx FROM bg GROUP BY 1
    ), vocab AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(tk) AS tok FROM toks)
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(ln((cb.c_bg + 1.0) / (cc.c_ctx + vocab.v))), 4)
             AS avg_logp
    FROM bg b
    JOIN cbg cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
    JOIN cctx cc ON b.w1 = cc.w1
    CROSS JOIN vocab
    GROUP BY b.doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (KenLM/CCNet filter): the corpus trains
    its own add-one-smoothed bigram model, each doc scores as mean
    ``log P(w_i | w_{i-1})``. The oracle replays training AND scoring, so
    the full two-pass pipeline — count tables, smoothing arithmetic,
    per-doc aggregation — is hash-verified."""
    from openmrs_module_mamba_etl_spark.llm.curation import ngram_lm_score

    return ngram_lm_score(table(spark, sf_dir, "documents"), "doc_id", "text")



@query(
    "text_pii_audit",
    # raw string: the patterns contain \b, which a non-raw literal would
    # silently turn into a backspace character
    oracle=r"""
    WITH synth AS (
      SELECT doc_id,
             substr(text, 1, 60) || ' reach user' || doc_id ||
             '@mail.example or +1-202-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
               AS raw
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(raw, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
           len(regexp_extract_all(raw, '\+?\d[\d\- ]{7,}\d')) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(raw,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                  '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g')) AS redacted_md5
    FROM synth
    """,
)
def text_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit pass — per-doc match COUNTS by category plus the
    redacted-text digest (the compliance report a scrubbing job files
    alongside the rewrite; ``text_pii_redact`` in analytics_queries.py is
    the rewrite itself). Deterministic PII-shaped strings are woven in
    from doc_id (identically in the oracle — the synthetic corpus is
    digit-free) and then counted + redacted via
    llm/curation.py:pii_redact, whose PII_PATTERNS generated this oracle
    verbatim (Java-regex ∩ RE2 dialect only). Map-only codegen: no
    shuffle, no Python."""
    from openmrs_module_mamba_etl_spark.llm.curation import pii_redact

    docs = table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or +1-202-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("raw"),
    )
    return pii_redact(synth, "doc_id", "raw")


@query(
    "emb_covariance",
    oracle="""
    WITH ex AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), m AS (
      SELECT i, AVG(v) AS mu FROM ex GROUP BY i
    ), prod AS (
      SELECT a.i AS i, b.i AS j, AVG(a.v * b.v) AS e2
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    )
    SELECT p.i, p.j, ROUND(p.e2 - ma.mu * mb.mu, 6) + 0.0 AS cov
    FROM prod p
    JOIN m ma ON p.i = ma.i
    JOIN m mb ON p.j = mb.i
    """,
)
def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus covariance of the embedding column in long form (i, j, cov)
    — the one-pass second-moment accumulation behind distributed PCA /
    whitening: only dim² accumulator cells ever shuffle (map-side
    combine), never vectors. Oracle replays the moment arithmetic via a
    within-row position join."""
    from openmrs_module_mamba_etl_spark.llm.linalg import covariance_long

    _assert_emb_dim(spark, sf_dir)
    return covariance_long(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", _EMB_DIM
    )


@query("emb_pca_project")  # eigendecomposition is engine-internal (numpy)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of every embedding onto the top-4 principal
    components (dimensionality reduction for clustering / visualization /
    cheap prefilters). Covariance aggregates distributed (see
    emb_covariance); eigh runs driver-side on the dim×dim matrix (8 MB at
    dim=1024 — driver-bounded by WIDTH, not corpus); projection is a
    map-only literal-matrix expression. Rows-only: eigenvector floats
    have no DuckDB twin — the decomposition invariants (orthonormality,
    variance recovery vs numpy PCA) are pinned in tests/test_llm.py."""
    from openmrs_module_mamba_etl_spark.llm.linalg import pca_project

    _assert_emb_dim(spark, sf_dir)
    return pca_project(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", _EMB_DIM, k=4
    )


@query(
    "multimodal_decode_jpeg_real",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(4 + doc_id % 13 AS INT) AS width,
           CAST(3 + doc_id % 7 AS INT) AS height
    FROM documents WHERE doc_id % 17 = 0 AND text IS NOT NULL
    """,
)
def multimodal_decode_jpeg_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED-format sibling of ``multimodal_decode_real``: each
    sampled document synthesizes an actual baseline JPEG (pure-python
    encoder, llm/jpeg.py — DCT + Huffman + byte stuffing), then decodes
    with ``fake=False`` through the same Arrow mapInPandas plumbing (PIL
    when importable, else the pure-python JPEG decoder). The oracle pins
    that decode recovers the constructed dimensions exactly — the seam
    that previously raised NotImplementedError for JPEG corpora now
    round-trips for real. Sampled 1-in-17: entropy coding in pure python
    is test-scale, not the 100 TB hot path (that seam is PIL/libjpeg)."""
    import pandas as pd

    from openmrs_module_mamba_etl_spark.llm.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 17 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )

    def encode(it):
        for pdf in it:
            out_ids, out_jpg = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                w, h = 4 + did % 13, 3 + did % 7
                need = w * h * 3
                payload = (text.encode() or b"\x00") * (need // max(1, len(text)) + 2)
                out_ids.append(did)
                out_jpg.append(
                    # rotate through baseline, spectral progressive, and
                    # successive-approximation progressive encodings so
                    # the decode seam exercises all three scan scripts
                    encode_jpeg(w, h, payload[:need], quality=90,
                                subsample=did % 2 == 0)
                    if did % 3 == 0
                    else encode_jpeg_progressive(
                        w, h, payload[:need], quality=90,
                        subsample=did % 2 == 0,
                        successive=did % 3 == 2,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": out_ids,
                    "content": out_jpg,
                    "mime": "image/jpeg",
                    "source_uri": [f"synthetic://{i}" for i in out_ids],
                }
            )

    from openmrs_module_mamba_etl_spark.llm.multimodal import MEDIA_SCHEMA

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    return decode_images(media, n_features=4, fake=False).select(
        "media_id", "width", "height"
    )


@query(
    "multimodal_audio_adpcm_real",
    oracle="""
    SELECT doc_id AS media_id,
           8000 + CAST(doc_id % 3 AS INT) * 4000 AS sample_rate,
           (octet_length(CAST(text AS BLOB)) * 40) * 1000
             // (8000 + (doc_id % 3) * 4000) AS duration_ms
    FROM documents
    WHERE doc_id % 23 = 0 AND text IS NOT NULL
      AND octet_length(CAST(text AS BLOB)) > 0
    """,
)
def multimodal_audio_adpcm_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED-audio sibling of ``multimodal_audio_real``: the
    same synthesized signals encode as IMA ADPCM (4 bits/sample, ~4x
    smaller — llm/wav.py:encode_wav_adpcm) and decode through the same
    ``fake=False`` plumbing; the ``fact`` chunk restores the exact sample
    count, so the duration oracle stays byte-exact despite block padding.
    Proves the audio seam handles a real compressed format end to end."""
    import numpy as np
    import pandas as pd

    from openmrs_module_mamba_etl_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
    )
    from openmrs_module_mamba_etl_spark.llm.wav import encode_wav_adpcm

    docs = (
        table(spark, sf_dir, "documents")
        .where(
            (F.col("doc_id") % 23 == 0)
            & F.col("text").isNotNull()
            & (F.length("text") > 0)
        )
        .select("doc_id", "text")
    )

    def encode(it):
        for pdf in it:
            ids, wavs = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                rate = 8000 + (did % 3) * 4000
                raw = np.frombuffer(text.encode() * 40, dtype=np.uint8)
                samples = (raw.astype(np.int16) - 128) * 256
                ids.append(did)
                wavs.append(encode_wav_adpcm(rate, samples))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": wavs,
                    "mime": "audio/wav",
                    "source_uri": [f"synthetic://{i}" for i in ids],
                }
            )

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    return extract_audio_features(media, n_mfcc=8, fake=False).select(
        "media_id", "sample_rate", "duration_ms"
    )


@query(
    "stream_dedup_minhash",
    oracle=_SHINGLE_CTE
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
    ), dropped AS (
      SELECT DISTINCT id_b
      FROM cand
      JOIN shingled sa ON sa.doc_id = id_a
      JOIN shingled sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))) >= 0.5
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM dropped)
    """,
)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING fuzzy dedup — near-dup detection at ingest time: a
    foreachBatch drain maintains a standing MinHash-LSH index
    ((id, band, bucket) + shingles, md5 contract); each micro-batch
    probes the index AND itself with one (band, bucket) equi-join,
    verifies candidates with exact Jaccard, and records the larger id of
    every verified pair as dropped. The kept set is ALL seen docs minus
    dropped — computed at drain end, so decisions are retroactive and the
    result is batch-order-INVARIANT (a later batch can drop an
    earlier-kept doc; contrast ``dedup_incremental``'s forward-only exact
    hash). The oracle replays the whole pipeline on the full corpus:
    4-batch streaming == one-shot batch, proving boundary invariance.

    Scale shape: per batch, candidates = batch×(index ∪ batch) meeting in
    an equi-join on the bucket key — incremental cost ∝ batch size ×
    collision rate, never index², and the index appends (at 100 TB:
    bucket-partitioned, shingles normalized per doc)."""
    import os

    from openmrs_module_mamba_etl_spark.inventory.sink_queries import (
        _scratch_dir,
    )
    from openmrs_module_mamba_etl_spark.inventory.window_queries import _drain
    from openmrs_module_mamba_etl_spark.llm.dedup import FuzzyDedupIndex

    scratch = _scratch_dir("stream_dedup_minhash")
    src = os.path.join(scratch, "in")

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(src)

    index = FuzzyDedupIndex(scratch)

    def process(batch: DataFrame, batch_id: int) -> None:
        index.ingest(batch, "doc_id", "text")

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return index.kept(spark, "doc_id")


@query(
    "etl_llm_corpus",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source, text, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, lang, text, toks,
             len(toks) AS n_tok,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN {_STOP_SQL['en']})) * 1.0 / len(toks)
                  ELSE 0.0 END AS stop_ratio,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS mwl,
             length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g'))
               AS n_punct
      FROM t WHERE source <> 'src9'
    ), scored AS (
      SELECT doc_id, lang, toks,
             ROUND(
               (CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN stop_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN n_punct <= length(text) * 0.1 THEN 0.1 ELSE 0.0 END),
               2) AS quality
      FROM m
    ), survivors AS (
      SELECT md5(array_to_string({_TOKS}, ' ')) AS h, MIN(doc_id) AS kept_id
      FROM documents WHERE source <> 'src9' GROUP BY 1
    ), s5 AS (
      SELECT doc_id, source, {_SH5} AS sh
      FROM (SELECT doc_id, source, toks FROM t)
    ), bench AS (
      SELECT DISTINCT unnest(sh) AS shingle FROM s5 WHERE source = 'src9'
    ), tainted AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(sh) AS shingle
            FROM s5 WHERE source <> 'src9') c
      JOIN bench USING (shingle)
    ), kept AS (
      SELECT s.doc_id, s.lang, s.toks, s.quality,
             CASE WHEN ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 950 THEN 'valid'
                  ELSE 'test' END AS split
      FROM scored s
      JOIN survivors k ON s.doc_id = k.kept_id
      LEFT JOIN tainted tt ON s.doc_id = tt.doc_id
      WHERE s.quality >= 0.7 AND tt.doc_id IS NULL
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(ROUND(quality * 10) AS BIGINT)) AS BIGINT)
                 / (COUNT(*) * 10.0), 2) AS avg_quality
    FROM kept GROUP BY split, lang
    """,
)
def etl_llm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus-curation pipeline as ONE DataFrame program —
    what a user of this engine actually runs before tokenization:
    quality-filter (Gopher-style heuristics) ∘ exact-dedup (min-id
    survivors) ∘ benchmark-decontaminate (5-gram overlap vs the held-out
    src9 slice) ∘ deterministic 90/5/5 hash split, reported as per
    (split, lang) doc/token counts. Every stage is the exact operator its
    standalone query registers, so this is the integration proof that
    the pieces compose in one plan: anti-joins against the duplicate-LOSER
    set (churn-sized — never the ~corpus-sized survivor set, the round-4
    broadcast scale-killer) and the tainted set. The loser join is
    unhinted so AQE broadcasts it exactly when it is in fact small; no
    extra corpus shuffles beyond the dedup hash-agg. The oracle replays
    the full chain.

    Single-scan shape (r14, guide §1.1/§1.2): the r13 plan scanned
    `documents` FOUR times (loser hashes, corpus shingles, bench
    shingles, quality+token counts) and ran the whitespace tokenizer in
    each. One shared projection now tokenizes once per row (one bound
    array feeds hash, quality, token count and shingles — the exact
    ``*_of`` forms of the standalone operators) and is persisted as a
    narrow derived table every branch reads: one FileScan of the corpus
    per run, document text never flows past the projection. At 100 TB
    the cached relation is bounded by the shingle column (≈ text-sized,
    MEMORY_AND_DISK spill) — the trade is 3 saved corpus scans + 3 saved
    tokenization passes for one local-disk-backed materialization."""
    from openmrs_module_mamba_etl_spark.functions.similarity import (
        bind,
        tokens,
        word_shingles_of,
    )
    from openmrs_module_mamba_etl_spark.functions.caching import (
        attach_caches,
    )
    from openmrs_module_mamba_etl_spark.llm.curation import (
        decontaminate_from_shingles,
    )
    from openmrs_module_mamba_etl_spark.llm.dedup import losers_from_hashes
    from openmrs_module_mamba_etl_spark.llm.sampling import hash_split

    docs = table(spark, sf_dir, "documents")
    # All four per-doc derived values from ONE bound token array; the
    # two-step select keeps the non-cheap bound struct a single
    # evaluation (CollapseProject does not inline a non-trivial alias
    # referenced more than once — pinned by tests/test_bind_equivalence).
    derived = bind(
        tokens(F.col("text")),
        lambda t: F.struct(
            T.content_hash_of(t).alias("content_hash"),
            T.quality_score_of(t, F.col("text")).alias("quality"),
            F.size(t).alias("n_tok"),
            word_shingles_of(t, 5).alias("sh"),
        ),
    )
    base = (
        spread_to_cores(docs, "doc_id")
        .select("doc_id", "lang", "source", derived.alias("_d"))
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("_d.content_hash").alias("content_hash"),
            F.col("_d.quality").alias("quality"),
            F.col("_d.n_tok").alias("n_tok"),
            F.col("_d.sh").alias("sh"),
        )
        .persist()
    )
    corpus = base.where(F.col("source") != "src9")
    bench = base.where(F.col("source") == "src9")

    losers = losers_from_hashes(
        corpus.select("doc_id", "content_hash"), "doc_id"
    )
    tainted = decontaminate_from_shingles(
        corpus.select("doc_id", "sh"), bench.select("sh"), "doc_id"
    ).select("doc_id")
    kept = (
        corpus.select("doc_id", "lang", "quality", "n_tok")
        .where(F.col("quality") >= 0.7)
        .join(losers, "doc_id", "left_anti")
        .join(F.broadcast(tainted), "doc_id", "left_anti")
    )
    split = hash_split(
        kept, "doc_id", [("train", 900), ("valid", 950), ("test", 1000)]
    )
    return attach_caches(
        split.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            # order-independent mean (see etl_pretok_shards)
            F.round(
                F.sum(F.round(F.col("quality") * 10).cast("long"))
                / (F.count(F.lit(1)) * 10.0),
                2,
            ).alias("avg_quality"),
        ),
        base,
    )


def _pretok_shards_oracle(n_merges: int = 3) -> str:
    """Full-chain replay: BPE merge selection (shared CTE chain) + quality
    scoring + min-id dedup survivors + per-word merge application + chunk
    math + the portable md5 shard bucket."""
    rep = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    for i in range(1, n_merges + 1):
        rep = (
            f"trim(replace(replace("
            f" ' ' || replace({rep}, ' ', '  ') || ' ',"
            f" ' ' || replace((SELECT pair FROM m{i}), ' ', '  ') || ' ',"
            f" ' ' || replace((SELECT pair FROM m{i}), ' ', '') || ' '),"
            f" '  ', ' '))"
        )
    return (
        "".join(_bpe_cte_parts(n_merges))
        + f""", t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), mq AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_tok,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN {_STOP_SQL['en']})) * 1.0 / len(toks)
                  ELSE 0.0 END AS stop_ratio,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS mwl,
             length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g'))
               AS n_punct
      FROM t
    ), scored AS (
      SELECT doc_id, toks,
             CAST(ROUND(
               (CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN stop_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN n_punct <= length(text) * 0.1 THEN 0.1 ELSE 0.0 END),
               2) AS DOUBLE) AS quality
      FROM mq
    ), survivors AS (
      SELECT md5(array_to_string({_TOKS}, ' ')) AS h, MIN(doc_id) AS kept_id
      FROM documents GROUP BY 1
    ), kept AS (
      SELECT s.doc_id, s.quality, s.toks
      FROM scored s JOIN survivors k ON s.doc_id = k.kept_id
      WHERE s.quality >= 0.7
    ), ktoks AS (
      SELECT doc_id, unnest(toks) AS w FROM kept
    ), syms AS (
      SELECT doc_id,
             CAST(SUM(len(string_split({rep}, ' '))) AS BIGINT) AS n_syms
      FROM ktoks GROUP BY doc_id
    ), docstats AS (
      SELECT k.doc_id, k.quality,
             COALESCE(s.n_syms, 0) AS n_syms,
             ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
               AS shard
      FROM kept k LEFT JOIN syms s ON k.doc_id = s.doc_id
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(CEIL(n_syms / 512.0) AS BIGINT)) AS BIGINT) AS n_chunks,
           CAST(SUM(n_syms) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(ROUND(quality * 10) AS BIGINT)) AS BIGINT)
                 / (COUNT(*) * 10.0), 2) AS avg_quality
    FROM docstats GROUP BY shard"""
    )


@query("etl_pretok_shards", oracle=_pretok_shards_oracle(3))
def etl_pretok_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREPARE-TRAINING-SHARDS composite — the last mile before the
    trainer: curate (quality >= 0.7, exact-dedup keepers) -> re-tokenize
    with the corpus-learned BPE merge table -> 512-token chunk math ->
    deterministic md5 shard assignment -> per-shard doc/chunk/token
    totals. Scale shape: the dedup decision joins the churn-sized
    duplicate-loser complement (dedup_losers, unhinted -> AQE broadcast
    when small, so the corpus never shuffles for it); BPE application and
    shard assignment are map-only literal expressions computed AFTER the
    keep decision (never on dropped docs); the only other exchange is the
    8-group rollup. The oracle replays the entire chain.

    Single-scan shape (r14, guide §1.1): the loser branch and the kept
    branch each scanned+tokenized documents, and the quality>=0.7 filter
    on the derived column was alias-inlined by predicate pushdown —
    re-running the whole score per row. One shared projection now
    tokenizes once (hash + quality from the same bound array) and is
    persisted; the filter reads the materialized column. text rides the
    cache so BPE application still runs only on kept docs."""
    from pyspark.sql import Window

    from openmrs_module_mamba_etl_spark.functions.caching import (
        attach_caches,
    )
    from openmrs_module_mamba_etl_spark.functions.similarity import (
        bind,
        tokens,
    )
    from openmrs_module_mamba_etl_spark.llm.bpe import (
        apply_merges_col,
        bpe_train,
    )
    from openmrs_module_mamba_etl_spark.llm.dedup import losers_from_hashes
    from openmrs_module_mamba_etl_spark.llm.sampling import hash_bucket

    docs = table(spark, sf_dir, "documents")
    pairs = [p for _, p, _ in bpe_train(docs, "text", n_merges=3)]
    toks = tokens(F.col("text"))
    n_syms = F.aggregate(
        F.transform(
            toks, lambda w: F.size(F.split(apply_merges_col(w, pairs), " "))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    derived = bind(
        tokens(F.col("text")),
        lambda t: F.struct(
            T.content_hash_of(t).alias("content_hash"),
            T.quality_score_of(t, F.col("text")).alias("quality"),
        ),
    )
    base = (
        spread_to_cores(docs, "doc_id")
        .select("doc_id", "text", derived.alias("_d"))
        .select(
            "doc_id",
            "text",
            F.col("_d.content_hash").alias("content_hash"),
            F.col("_d.quality").alias("quality"),
        )
        .persist()
    )
    losers = losers_from_hashes(
        base.select("doc_id", "content_hash"), "doc_id"
    )
    kept = (
        base.select("doc_id", "text", "quality")
        .where(F.col("quality") >= 0.7)
        .join(losers, "doc_id", "left_anti")
    )
    stats = kept.select(
        hash_bucket(F.col("doc_id"), 8).alias("shard"),
        "quality",
        n_syms.alias("n_syms"),
    )
    return attach_caches(stats.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.ceil(F.col("n_syms") / F.lit(512.0)).cast("long")).alias(
            "n_chunks"
        ),
        F.sum("n_syms").alias("n_tokens"),
        # Order-independent mean: quality is a multiple of 0.1 by
        # construction, so sum integer deci-points and divide once —
        # ROUND(AVG(double)) flips at rounding boundaries under partial-agg
        # reordering (seen at sf0.01, shard 7: 0.985-edge -> 0.98 vs 0.99).
        F.round(
            F.sum(F.round(F.col("quality") * 10).cast("long"))
            / (F.count(F.lit(1)) * 10.0),
            2,
        ).alias("avg_quality"),
    ), base)


@query(
    "etl_corpus_funnel",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_tok,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN {_STOP_SQL['en']})) * 1.0 / len(toks)
                  ELSE 0.0 END AS stop_ratio,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS mwl,
             length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g'))
               AS n_punct
      FROM t WHERE source <> 'src9'
    ), scored AS (
      SELECT doc_id,
             ROUND(
               (CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN stop_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN n_punct <= length(text) * 0.1 THEN 0.1 ELSE 0.0 END),
               2) AS quality
      FROM m
    ), survivors AS (
      SELECT md5(array_to_string({_TOKS}, ' ')) AS h, MIN(doc_id) AS kept_id
      FROM documents WHERE source <> 'src9' GROUP BY 1
    ), s5 AS (
      SELECT doc_id, source, {_SH5} AS sh
      FROM (SELECT doc_id, source, toks FROM t)
    ), bench AS (
      SELECT DISTINCT unnest(sh) AS shingle FROM s5 WHERE source = 'src9'
    ), tainted AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(sh) AS shingle
            FROM s5 WHERE source <> 'src9') c
      JOIN bench USING (shingle)
    ), staged AS (
      SELECT s.doc_id,
             s.quality >= 0.7 AS q_ok,
             k.kept_id IS NOT NULL AS d_ok,
             tt.doc_id IS NULL AS c_ok
      FROM scored s
      LEFT JOIN survivors k ON s.doc_id = k.kept_id
      LEFT JOIN tainted tt ON s.doc_id = tt.doc_id
    )
    SELECT 'ingested' AS stage, COUNT(*) AS n_docs FROM staged
    UNION ALL
    SELECT 'after_quality', COUNT(*) FROM staged WHERE q_ok
    UNION ALL
    SELECT 'after_dedup', COUNT(*) FROM staged WHERE q_ok AND d_ok
    UNION ALL
    SELECT 'after_decontam', COUNT(*) FROM staged
    WHERE q_ok AND d_ok AND c_ok
    """,
)
def etl_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-pipeline OBSERVABILITY: the per-stage retention funnel
    (ingested → quality → dedup → decontamination) every production data
    pipeline reports next to its output. Stage flags are computed in one
    pass over the scored corpus: the dedup flag joins the duplicate-LOSER
    set (churn-sized; never the ~corpus-sized survivor set, the round-4
    broadcast scale-killer — unhinted so AQE broadcasts it only when
    actually small), the decontamination flag the tainted set, then four
    conditional counts — one corpus scan, not one scan per stage.

    Single-scan shape (r14, guide §1.1): like etl_llm_corpus, the four
    branches each re-scanned+re-tokenized documents; one shared bound
    projection (hash + quality + shingles from the same token array) is
    persisted and feeds them all — one FileScan per run."""
    from openmrs_module_mamba_etl_spark.functions.caching import (
        attach_caches,
    )
    from openmrs_module_mamba_etl_spark.functions.similarity import (
        bind,
        tokens,
        word_shingles_of,
    )
    from openmrs_module_mamba_etl_spark.llm.curation import (
        decontaminate_from_shingles,
    )
    from openmrs_module_mamba_etl_spark.llm.dedup import losers_from_hashes

    docs = table(spark, sf_dir, "documents")
    derived = bind(
        tokens(F.col("text")),
        lambda t: F.struct(
            T.content_hash_of(t).alias("content_hash"),
            T.quality_score_of(t, F.col("text")).alias("quality"),
            word_shingles_of(t, 5).alias("sh"),
        ),
    )
    base = (
        spread_to_cores(docs, "doc_id")
        .select("doc_id", "source", derived.alias("_d"))
        .select(
            "doc_id",
            "source",
            F.col("_d.content_hash").alias("content_hash"),
            F.col("_d.quality").alias("quality"),
            F.col("_d.sh").alias("sh"),
        )
        .persist()
    )
    corpus = base.where(F.col("source") != "src9")
    bench = base.where(F.col("source") == "src9")

    losers = losers_from_hashes(
        corpus.select("doc_id", "content_hash"), "doc_id"
    ).select("doc_id", F.lit(True).alias("l_hit"))
    tainted = decontaminate_from_shingles(
        corpus.select("doc_id", "sh"), bench.select("sh"), "doc_id"
    ).select("doc_id", F.lit(True).alias("t_hit"))
    staged = (
        corpus.select("doc_id", "quality")
        .join(losers, "doc_id", "left")
        .join(F.broadcast(tainted), "doc_id", "left")
        .select(
            (F.col("quality") >= 0.7).alias("q_ok"),
            F.col("l_hit").isNull().alias("d_ok"),
            F.col("t_hit").isNull().alias("c_ok"),
        )
    )
    counts = staged.agg(
        F.count(F.lit(1)).alias("ingested"),
        F.count(F.when(F.col("q_ok"), 1)).alias("after_quality"),
        F.count(F.when(F.col("q_ok") & F.col("d_ok"), 1)).alias(
            "after_dedup"
        ),
        F.count(
            F.when(F.col("q_ok") & F.col("d_ok") & F.col("c_ok"), 1)
        ).alias("after_decontam"),
    )
    stages = ["ingested", "after_quality", "after_dedup", "after_decontam"]
    # union of literal-labeled rows, not a pivot/cross join — join-free
    return attach_caches(
        counts.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("stage"),
                            F.col(s).alias("n_docs"),
                        )
                        for s in stages
                    ]
                )
            ).alias("kv")
        ).select("kv.stage", "kv.n_docs"),
        base,
    )


@query(
    "ann_recall_eval_ivf",
    oracle=f"""
    WITH ranked AS (
      SELECT embedding AS cv,
             ROW_NUMBER() OVER (ORDER BY
               ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
               vec_id ASC) - 1 AS cell
      FROM embeddings
    ), seeds AS (
      SELECT cell, cv FROM ranked WHERE cell < 16
    ), q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id < 5
    ), assign AS (
      SELECT e.vec_id, e.embedding, s.cell
      FROM embeddings e CROSS JOIN seeds s
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY {_cos_sql('e.embedding', 's.cv')} DESC,
                         s.cell ASC) = 1
    ), probe AS (
      SELECT q.qid, s.cell
      FROM q CROSS JOIN seeds s
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.qid
                ORDER BY {_cos_sql('s.cv', 'q.qv')} DESC,
                         s.cell ASC) <= 4
    ), scored AS (
      SELECT q.qid, a.vec_id, a.cell,
             ROUND({_cos_sql('a.embedding', 'q.qv')}, 6) AS cosine
      FROM assign a CROSS JOIN q
    ), brute AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 10
    ), ivf AS (
      SELECT s.qid, s.vec_id FROM (
        SELECT s.qid, s.vec_id,
               ROW_NUMBER() OVER (PARTITION BY s.qid
                                  ORDER BY s.cosine DESC, s.vec_id ASC)
                 AS rn
        FROM scored s JOIN probe p
          ON s.qid = p.qid AND s.cell = p.cell
      ) s WHERE rn <= 10
    )
    SELECT brute.qid,
           ROUND(COUNT(ivf.vec_id) / 10.0, 6) AS recall_at_10
    FROM brute LEFT JOIN ivf
      ON brute.qid = ivf.qid AND brute.vec_id = ivf.vec_id
    GROUP BY brute.qid ORDER BY brute.qid
    """,
)
def ann_recall_eval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF sibling of ``ann_recall_eval``: recall@10 of the
    md5-seeded portable IVF (16 cells, nprobe=4) against exact brute
    force, per eval query — the production quality gate for the
    partition-pruned index, with EVERY stage (seed selection, cell
    assignment, probe ranking, candidate top-k, recall division)
    replayed by the oracle. Probe ranking runs driver-side with the
    left-to-right-fold cosine so it can never diverge from the SQL
    fold on near-ties."""
    from pyspark.sql import Window

    from openmrs_module_mamba_etl_spark.functions.similarity import cosine
    from openmrs_module_mamba_etl_spark.llm.ann import (
        _cosine_lr,
        ivf_seed_centroids,
        nearest_cell,
    )

    _assert_emb_dim(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    centroids = ivf_seed_centroids(emb, "vec_id", "embedding", 16)

    qrows = sorted(
        (
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.where(F.col("vec_id") < 5).collect()
        )
    )
    probes = [
        (qid, int(cell))
        for qid, qv in qrows
        for cell in sorted(
            range(len(centroids)),
            key=lambda i: (-_cosine_lr(centroids[i], qv), i),
        )[:4]
    ]
    probe_df = spark.createDataFrame(probes, "qid long, cell int")

    assigned = spread_to_cores(emb).withColumn(
        "cell", nearest_cell(F.col("embedding"), centroids)
    )

    brute = knn_join(
        emb.where(F.col("vec_id") < 5), emb, "vec_id", "vec_id",
        "embedding", k=10,
    )

    cand = assigned.join(F.broadcast(probe_df), "cell").select(
        "qid", "vec_id", "embedding"
    )
    qv_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = cand.join(F.broadcast(qv_df), "qid").select(
        "qid",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    ivf_top = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    hits = brute.select(
        F.col("lid").alias("qid"), F.col("rid").alias("vec_id")
    ).join(ivf_top.withColumn("hit", F.lit(1)), ["qid", "vec_id"], "left")
    return (
        hits.groupBy("qid")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 10.0, 6
            ).alias("recall_at_10")
        )
        .orderBy("qid")
    )


@query(
    "train_logreg",
    # oracle generated by an iteration-unroll loop (see llm/logreg.py);
    # the CTE chain replays all 3 gradient steps exactly — weights round
    # to 10 decimals each step, which resets cross-engine float drift
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS tk FROM documents
      WHERE text IS NOT NULL
    ), toks AS (
      SELECT doc_id, text, tk, len(tk) AS n FROM t WHERE len(tk) > 0
    ), m AS (
      SELECT doc_id, text, tk, n,
             CASE WHEN n > 0
                  THEN len(list_filter(tk, x -> x IN {_STOP_SQL['en']})) * 1.0 / n
                  ELSE 0.0 END AS stop_ratio,
             CASE WHEN n > 0
                  THEN list_sum(list_transform(tk, x -> length(x))) * 1.0 / n
                  ELSE 0.0 END AS mwl,
             length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g'))
               AS n_punct
      FROM toks
    ), ylab AS (
      SELECT doc_id,
             CASE WHEN
               (CASE WHEN n >= 10 AND n <= 5000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN stop_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN n_punct <= length(text) * 0.1 THEN 0.1 ELSE 0.0 END)
               >= 0.7 THEN 1.0 ELSE 0.0 END AS y
      FROM m
    ), xb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 16 AS INT)
               AS bucket,
             COUNT(*) * 1.0 / ANY_VALUE(n) AS val
      FROM (SELECT doc_id, n, unnest(tk) AS tok FROM toks)
      GROUP BY doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 16
    ), ndocs AS (
      SELECT COUNT(*) AS n FROM toks
    ), w0 AS (
      SELECT unnest(range(0, 17)) AS bucket, 0.0 AS w
    ), dot1 AS (
      SELECT x.doc_id,
             SUM(x.val * w.w)
             + (SELECT w FROM w0 WHERE bucket = 16) AS logit
      FROM xb x JOIN w0 w ON x.bucket = w.bucket
      GROUP BY x.doc_id
    ), err1 AS (
      SELECT d.doc_id, 1.0 / (1.0 + exp(-d.logit)) - y.y AS err
      FROM dot1 d JOIN ylab y USING (doc_id)
    ), grad1 AS (
      SELECT x.bucket, SUM(e.err * x.val) / (SELECT n FROM ndocs) AS g
      FROM xb x JOIN err1 e USING (doc_id)
      GROUP BY x.bucket
    ), w1 AS (
      SELECT w.bucket,
             CASE WHEN w.bucket = 16
                  THEN ROUND(w.w - (SELECT AVG(err) FROM err1), 10)
                  ELSE ROUND(w.w - COALESCE(g.g, 0), 10) END AS w
      FROM w0 w LEFT JOIN grad1 g ON w.bucket = g.bucket
    ), dot2 AS (
      SELECT x.doc_id,
             SUM(x.val * w.w)
             + (SELECT w FROM w1 WHERE bucket = 16) AS logit
      FROM xb x JOIN w1 w ON x.bucket = w.bucket
      GROUP BY x.doc_id
    ), err2 AS (
      SELECT d.doc_id, 1.0 / (1.0 + exp(-d.logit)) - y.y AS err
      FROM dot2 d JOIN ylab y USING (doc_id)
    ), grad2 AS (
      SELECT x.bucket, SUM(e.err * x.val) / (SELECT n FROM ndocs) AS g
      FROM xb x JOIN err2 e USING (doc_id)
      GROUP BY x.bucket
    ), w2 AS (
      SELECT w.bucket,
             CASE WHEN w.bucket = 16
                  THEN ROUND(w.w - (SELECT AVG(err) FROM err2), 10)
                  ELSE ROUND(w.w - COALESCE(g.g, 0), 10) END AS w
      FROM w1 w LEFT JOIN grad2 g ON w.bucket = g.bucket
    ), dot3 AS (
      SELECT x.doc_id,
             SUM(x.val * w.w)
             + (SELECT w FROM w2 WHERE bucket = 16) AS logit
      FROM xb x JOIN w2 w ON x.bucket = w.bucket
      GROUP BY x.doc_id
    ), err3 AS (
      SELECT d.doc_id, 1.0 / (1.0 + exp(-d.logit)) - y.y AS err
      FROM dot3 d JOIN ylab y USING (doc_id)
    ), grad3 AS (
      SELECT x.bucket, SUM(e.err * x.val) / (SELECT n FROM ndocs) AS g
      FROM xb x JOIN err3 e USING (doc_id)
      GROUP BY x.bucket
    ), w3 AS (
      SELECT w.bucket,
             CASE WHEN w.bucket = 16
                  THEN ROUND(w.w - (SELECT AVG(err) FROM err3), 10)
                  ELSE ROUND(w.w - COALESCE(g.g, 0), 10) END AS w
      FROM w2 w LEFT JOIN grad3 g ON w.bucket = g.bucket
    )
    SELECT bucket, ROUND(w, 6) AS weight FROM w3
    """,
)
def train_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MODEL TRAINING as DataFrame aggregates: 3 full-batch
    gradient-descent steps of a hashed-bag logistic regression that
    learns the Gopher-style quality label (llm/logreg.py). Each step is
    one corpus pass — logits as a codegen fold over weight literals,
    gradients as a map-side-combinable (bucket, err·x) hash aggregate —
    and only #buckets gradient cells reach the driver, the shape that
    holds on 100 TB. The oracle unrolls the ENTIRE training trajectory
    into chained CTEs (the text_bpe_merges replay pattern): all 3
    iterations of logits, sigmoids, gradients, and weight updates are
    hash-verified, not just the final model. The trained model serves
    through ``text_classifier_score``'s inference path (same hashed-bag
    features, same md5 bucket contract)."""
    from openmrs_module_mamba_etl_spark.llm.logreg import train_logreg_hashed

    docs = table(spark, sf_dir, "documents")
    w = train_logreg_hashed(
        docs,
        "doc_id",
        "text",
        (T.quality_score(F.col("text")) >= 0.7),
        n_buckets=16,
        iters=3,
    )
    return spark.createDataFrame(
        [(i, round(float(x), 6)) for i, x in enumerate(w)],
        "bucket long, weight double",
    )
