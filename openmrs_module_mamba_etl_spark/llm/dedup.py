"""Deduplication operators for training-data pipelines.

Five strategies, each with a different recall/cost point, all expressed as
shuffle-bounded DataFrame plans (the O(n²) pair space is never materialized
except inside LSH buckets / shared-token groups):

- exact: hash-groupBy on a canonical content hash.
- token-Jaccard: inverted-index self-join (posting lists) + set-overlap.
- MinHash+LSH: shingle → signature → band-bucket equi-join → verify.
- SimHash: 64-bit signature → hamming-band equi-join → hamming verify.
- embedding cosine: hyperplane-LSH bucketing (or brute force for small n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from openmrs_module_mamba_etl_spark.functions.caching import (
    attach_caches,
    release_caches,
)
from openmrs_module_mamba_etl_spark.functions.partitioning import (
    spread_to_cores,
)
from openmrs_module_mamba_etl_spark.functions.similarity import (
    band_hashes,
    dot,
    hamming,
    norm,
    pack_bit_bands,
    portable_hash60,
    simhash_bits,
    tokens,
    word_shingles,
)
from openmrs_module_mamba_etl_spark.functions.text import content_hash


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id representative per exact (normalized) content.

    One hash aggregate on a 128-bit content hash — at 100 TB this shuffles
    (hash, id) pairs only, never the documents themselves.
    """
    # No repartition here: md5-of-tokens is cheap enough that the extra
    # shuffle stage costs more than single-pass hashing saves (measured).
    return (
        df.select(
            F.col(id_col), content_hash(F.col(text_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def dedup_losers(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Ids of the non-kept duplicate rows — the complement of
    ``exact_dedup``'s survivor set.

    The survivor set has one row per DISTINCT document (~corpus
    cardinality at 100 TB) and must never be a broadcast build side; the
    loser set is sized by duplicate churn (n_rows − n_distinct_contents),
    the typically-tiny duplicated tail. Composites that need "kept docs
    only" should anti-join against this, unhinted, so AQE broadcasts it
    exactly when it is in fact small. Shuffle cost matches exact_dedup:
    (hash, id) pairs only, never document bytes; collect_list buffers one
    content-duplicate group at a time (bounded by the corpus's max dup
    multiplicity, not by corpus size).
    """
    return losers_from_hashes(
        df.select(
            F.col(id_col), content_hash(F.col(text_col)).alias("content_hash")
        ),
        id_col,
    )


def losers_from_hashes(
    hashed: DataFrame, id_col: str, hash_col: str = "content_hash"
) -> DataFrame:
    """``dedup_losers`` over an already-hashed (id, content_hash) frame —
    single-scan composites compute the hash once in a shared projection
    and feed every branch from it."""
    groups = (
        hashed.groupBy(hash_col)
        .agg(
            F.min(id_col).alias("kept_id"),
            F.collect_list(id_col).alias("ids"),
        )
        .where(F.size("ids") > 1)
    )
    return (
        groups.select(F.explode("ids").alias(id_col), "kept_id")
        .where(F.col(id_col) != F.col("kept_id"))
        .select(id_col)
    )


def _pair_join(left_keyed: DataFrame, id_col: str, key_cols: list[str]) -> DataFrame:
    """Self-join a keyed exploded table into candidate id pairs (a < b)."""
    a = left_keyed.alias("a")
    b = left_keyed.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    joined = a.join(b, cond)
    return joined.select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (prefix-filtered index)."""
    keyed = spread_to_cores(df, id_col).select(
        F.col(id_col), F.array_distinct(tokens(F.col(text_col))).alias("toks")
    )
    return _ppjoin_pairs(keyed, id_col, threshold, containment=False)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact word-n-gram (shingle) Jaccard near-dup pairs.

    Shingles preserve local word order, so this is stricter than token-set
    Jaccard: shuffled copies of a document stop matching. Same prefix-
    filtered index; the posting key is the n-gram.
    """
    keyed = spread_to_cores(df, id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("toks")
    )
    return _ppjoin_pairs(keyed, id_col, threshold, containment=False)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT pairs: C(A→B) = |A∩B| / |A| ≥ t.

    Catches what symmetric Jaccard structurally misses: a short document
    (boilerplate block, quotation, excerpt) living inside a much larger
    one — J is diluted by the big doc's size, C is not. Ordered pairs
    (A, B), A ≠ B; the prefix-filtered join and exact verification of
    :func:`_ppjoin_pairs`, with A's prefix probing B's full posting.
    """
    keyed = spread_to_cores(df, id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("toks")
    )
    return _ppjoin_pairs(keyed, id_col, threshold, containment=True)


def _ppjoin_pairs(
    keyed: DataFrame,
    id_col: str,
    threshold: float,
    containment: bool,
) -> DataFrame:
    """Exact set-similarity pairs over (id, toks: distinct array) input —
    prefix filtering (AllPairs/PPJoin; Bayardo et al. WWW 2007, Xiao et
    al. WWW 2008) + ``array_intersect`` verification. Builds a plan only:
    no Spark job runs until the caller's action.

    A naive inverted-index join is O(Σ df²): one token present in every
    document yields |corpus|²/2 candidates on its own. The prefix rule:
    order tokens by ascending global document frequency (ties by token);
    a pair that reaches t has |x∩y| ≥ ⌈t·|x|⌉ (Jaccard J ≥ t and
    containment C(x→y) ≥ t both imply it), so by pigeonhole x's SMALLEST
    common token lies in x's first |x| − ⌈t·|x|⌉ + 1 tokens. Only the
    rarest ~(1−t) fraction of x probes; ubiquitous tokens never drive
    the join. The two candidate joins:

    - Jaccard (id_a < id_b): symmetric, so the bound holds for BOTH
      sides — prefix joins prefix, pruned further by PPJoin's length and
      positional filters. Score |x∩y| / (|x| + |y| − |x∩y|).
    - Containment (id_a ≠ id_b): nothing bounds the container's side, so
      A's prefix joins B's FULL posting. Score |A∩B| / |A|.

    Candidates are verified with exact ``array_intersect`` on the full
    token arrays, so the output equals the naive all-pairs result.
    """
    # persist() marks are MEMORY_AND_DISK and LRU-evictable under Spark's
    # unified memory manager, so repeated batch calls degrade gracefully;
    # a long-lived service embedding these operators should still
    # unpersist the returned frame's ancestors after its terminal action.
    toked = keyed.persist()
    sizes = toked.select(
        F.col(id_col),
        F.col("toks"),
        F.size("toks").alias("n_toks"),
        # prefix length: |x| - ceil(t·|x|) + 1
        (F.size("toks") - F.ceil(F.lit(threshold) * F.size("toks")) + 1)
        .cast("int")
        .alias("prefix_len"),
    )
    posting = sizes.select(
        id_col, "prefix_len", "n_toks", F.explode("toks").alias("token")
    )
    tok_df = posting.groupBy("token").agg(F.count(F.lit(1)).alias("tok_df"))
    ranked = (
        posting.join(tok_df, "token")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.col("tok_df").asc(), F.col("token").asc()
                )
            ),
        )
        .where(F.col("rn") <= F.col("prefix_len"))
        .select(F.col(id_col), "n_toks", "rn", "token")
    )
    if containment:
        caches = (toked,)
        a_r, b_r = ranked.alias("a"), posting.alias("b")
        cond = [F.col(f"a.{id_col}") != F.col(f"b.{id_col}")]
    else:
        # persist(): the prefix self-join reads `ranked` on BOTH sides,
        # and an unpersisted frame is planned twice — the whole posting ⋈
        # tok_df ⋈ row_number chain ran once per side (r13 plan audit).
        # The prefix table is far smaller than the posting it contracts.
        ranked = ranked.persist()
        caches = (toked, ranked)
        a_r, b_r = ranked.alias("a"), ranked.alias("b")
        # Length filter (PPJoin): J ≥ t forces min(|x|,|y|) ≥
        # t·max(|x|,|y|). Positional filter (PPJoin): a match at
        # positions (px, py) bounds the overlap at 1 + min(|x|−px,
        # |y|−py); drop matches that cannot reach the required overlap
        # ⌈t·(|x|+|y|)/(1+t)⌉. The earliest common token of a true pair
        # always passes, so recall stays exact. The 1e-9 slack keeps
        # float ceil from over-pruning exact-integer bounds.
        required_overlap = F.ceil(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("a.n_toks") + F.col("b.n_toks"))
            - F.lit(1e-9)
        )
        cond = [
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            F.least("a.n_toks", "b.n_toks")
            >= threshold * F.greatest("a.n_toks", "b.n_toks"),
            F.lit(1)
            + F.least(
                F.col("a.n_toks") - F.col("a.rn"),
                F.col("b.n_toks") - F.col("b.rn"),
            )
            >= required_overlap,
        ]
    candidates = (
        a_r.join(b_r, [F.col("a.token") == F.col("b.token"), *cond])
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )

    a = sizes.select(
        F.col(id_col).alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_toks").alias("n_a"),
    )
    b = sizes.select(
        F.col(id_col).alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_toks").alias("n_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    # Containment compares the unrounded score, Jaccard the rounded one
    # (each as its DuckDB oracle does); both output it rounded.
    if containment:
        score = inter / F.col("n_a")
        keep, score_col = score >= threshold, "containment"
    else:
        score = inter / (F.col("n_a") + F.col("n_b") - inter)
        keep, score_col = F.round(score, 6) >= threshold, "jaccard"
    return attach_caches(
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .where(keep)
        .select("id_a", "id_b", F.round(score, 6).alias(score_col)),
        *caches,
    )


def _minhash_signatures(
    base: DataFrame, id_col: str, num_hashes: int, portable: bool
) -> DataFrame:
    """(id, sig) MinHash signatures of ``base``'s ``shingles`` column —
    the one signature kernel behind :func:`minhash_lsh_pairs` and
    :func:`minhash_bucket_table`.

    Explode → codegen hash → hash-aggregate min, NOT the
    higher-order-function form (:func:`minhash_signature`): HOF lambdas
    evaluate interpreted, while explode + plain column expressions stay
    in whole-stage codegen. Same hash family, same values. Map-side
    partial aggregation collapses each doc to one ``num_hashes``-long row
    per input partition before the shuffle, so the exchange carries
    |docs| rows regardless of shingle count — the property that holds at
    100 TB. ``portable`` selects the md5 contract
    (``portable_hash60`` over ``"<seed>:<shingle>"``) over xxhash64.
    """

    def shingle_hash(seed: int):
        if portable:
            return portable_hash60(F.concat(F.lit(f"{seed}:"), F.col("sh")))
        return F.xxhash64("sh", F.lit(seed))

    return (
        base.select(id_col, F.explode("shingles").alias("sh"))
        .groupBy(id_col)
        .agg(
            *[
                F.min(shingle_hash(seed)).alias(f"mh_{seed}")
                for seed in range(num_hashes)
            ]
        )
        .select(
            id_col,
            F.array(*[f"mh_{s}" for s in range(num_hashes)]).alias("sig"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 3,
    verify_threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    bands=8 × rows=4 over 32 hashes ⇒ the classic S-curve with ~50%
    candidate probability at J≈0.84^(1/4); candidates are verified with the
    exact shingle-set Jaccard so the output has no false positives. Only
    band-bucket groups are joined — the shuffle key is (band, bucket).

    ``portable=True`` swaps the xxhash64 family for the md5 contract
    (``portable_hash60`` over ``"<seed>:<shingle>"``) so a DuckDB oracle
    replays signatures, buckets, and the verified output exactly; xxhash64
    stays the production default (~3-4× faster per hash).
    """
    rows_per_band = num_hashes // bands
    base = spread_to_cores(df, id_col).select(
        F.col(id_col),
        word_shingles(F.col(text_col), shingle_len).alias("shingles"),
    ).persist()
    sigs = _minhash_signatures(base, id_col, num_hashes, portable)
    # persist(): `_pair_join` reads `buckets` on both sides of the
    # (band, bucket) self-join; unpersisted, the full signature pipeline
    # (shingle explode → 32-way min hash-aggregate → band hashing) was
    # planned once PER SIDE (r13 plan audit). The bucket table is three
    # narrow columns per (doc, band) — cache it and sign each doc once.
    buckets = sigs.select(
        id_col,
        F.explode(
            band_hashes(F.col("sig"), bands, rows_per_band, portable=portable)
        ).alias("bb"),
    ).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    ).persist()

    candidates = _pair_join(buckets, id_col, ["band", "bucket"]).distinct()

    sh = base.select(F.col(id_col), F.col("shingles"))
    verified = (
        candidates.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= verify_threshold)
    )
    return attach_caches(
        verified.select("id_a", "id_b", "jaccard"), base, buckets
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 8,
    hamming_max: int = 7,
    n_bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures, hamming-band LSH.

    With 8 bands of 8 bits, any pair within hamming distance ≤7 shares at
    least one identical band (pigeonhole) ⇒ recall is exact for the
    ``hamming_max`` default; distance is verified on the full signature.

    ``portable=True`` (use with ``n_bits=32``) hashes tokens with the md5
    contract so a DuckDB oracle replays the signature votes exactly —
    integer arithmetic end to end.
    """
    # Expression-side signatures beat an Arrow kernel here (measured 50k
    # docs × 200 tokens: 3.3s vs 4.3s warm): shipping every token hash
    # over Arrow costs more than the JVM fold saves. See similarity.py.
    sigs = spread_to_cores(df, id_col).select(
        F.col(id_col),
        simhash_bits(F.col(text_col), n_bits=n_bits, portable=portable).alias(
            "bits"
        ),
    ).persist()
    buckets = sigs.select(
        id_col,
        F.explode(pack_bit_bands(F.col("bits"), bands, n_bits=n_bits)).alias(
            "bb"
        ),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.value").alias("value"))

    candidates = _pair_join(buckets, id_col, ["band", "value"]).distinct()
    bits = sigs
    return attach_caches(
        candidates.join(bits.withColumnRenamed(id_col, "id_a").withColumnRenamed("bits", "bits_a"), "id_a")
        .join(bits.withColumnRenamed(id_col, "id_b").withColumnRenamed("bits", "bits_b"), "id_b")
        .withColumn("hamming", hamming(F.col("bits_a"), F.col("bits_b")))
        .where(F.col("hamming") <= hamming_max)
        .select("id_a", "id_b", "hamming"),
        sigs,
    )


def _cosine_pairs_bruteforce_arrow(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Exact all-pairs cosine via a broadcast matrix + Arrow matmul kernel.

    One pass, no join, no shuffle: the (n × dim) normalized matrix is
    broadcast once and every Arrow batch scores itself against it with a
    single numpy matmul — the same cosine values the expression form
    produced, ~100× fewer interpreter transitions than the per-pair
    higher-order-function fold. Pairs are emitted once (id_a < id_b).

    Brute force is inherently the small-n path (the broadcast holds all
    vectors); at 100 TB use the hyperplane-LSH bucketed variant, which
    never materializes the matrix.
    """
    import numpy as np
    import pandas as pd

    rows = df.select(id_col, vec_col).collect()
    if not rows:  # empty corpus: no pairs (and numpy needs a 2-D matrix)
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    ids_all = np.asarray([r[0] for r in rows], dtype=np.int64)
    M = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(M, axis=1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        Mn = np.where(nrm > 0, M / nrm, 0.0)
    bc = df.sparkSession.sparkContext.broadcast((ids_all, Mn))

    def score(batches):
        b_ids, b_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.asarray([list(v) for v in pdf[vec_col]], dtype=np.float64)
            bn = np.linalg.norm(B, axis=1, keepdims=True)
            with np.errstate(invalid="ignore", divide="ignore"):
                Bn = np.where(bn > 0, B / bn, 0.0)
            S = Bn @ b_mat.T
            # HALF_UP at 6 decimals — matches F.round / DuckDB ROUND
            # (np.round is half-even and would flap on exact halves).
            R = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
            left = pdf[id_col].to_numpy(dtype=np.int64)
            keep = (R >= threshold) & (left[:, None] < b_ids[None, :])
            li, ri = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": left[li],
                    "id_b": b_ids[ri],
                    "cosine": R[li, ri],
                }
            )

    spread = spread_to_cores(df.select(id_col, vec_col))
    return spread.mapInPandas(score, "id_a long, id_b long, cosine double")


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    brute_force: bool = True,
    lsh_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs by cosine similarity.

    ``brute_force=True``: exact all-pairs (id<id) — O(n²) scoring as one
    broadcast + Arrow-batched matmul, correct, only for small n or
    within-bucket verification. ``False``: hyperplane-LSH bucketing first
    (sign pattern of ``lsh_planes`` fixed random projections) so only
    same-bucket pairs join — the 100 TB path; recall < 1 by design, trade
    with ``lsh_planes``.
    """
    if brute_force:
        return _cosine_pairs_bruteforce_arrow(df, id_col, vec_col, threshold)
    # Per-row norm once (O(n)) — each pair then costs one dot fold, not
    # dot + two norm folds; same arithmetic, so values are unchanged.
    # Vectors ride the self-join directly (no re-join by id afterwards).
    from openmrs_module_mamba_etl_spark.llm.ann import hyperplane_bucket

    vecs = df.select(
        F.col(id_col),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    head = vecs.select("vec").first()
    if head is None or head[0] is None:
        # empty input (or null-leading vector column): no pairs — mirror
        # the brute-force path instead of crashing on len(None)
        return (
            df.sparkSession.createDataFrame(
                [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                    f"id_b {df.schema[id_col].dataType.simpleString()}, "
                    "cosine double"
            )
        )
    dim = len(head[0])
    vecs = vecs.withColumn(
        "bucket", hyperplane_bucket(F.col("vec"), dim, lsh_planes, seed)
    )
    cond = [
        F.col("a.bucket") == F.col("b.bucket"),
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
    ]
    # Round-robin both sides: single-file inputs arrive as one partition and
    # the O(n²) scoring must spread across all cores (skipped when the scan
    # already parallelizes — see partitioning.py).
    spread = spread_to_cores(vecs)
    a, b = spread.alias("a"), spread.alias("b")
    d = dot(F.col("a.vec"), F.col("b.vec"))
    n = F.col("a.nrm") * F.col("b.nrm")
    cos = F.round(F.when(n > 0, d / n).otherwise(F.lit(0.0)), 6)
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def incremental_exact_dedup(
    corpus: DataFrame,
    increment: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus — the shape a daily
    ingest actually runs (re-deduping 100 TB per increment is a non-starter).

    Three content-hash stages, each with an increment-sized build side:
    (1) keep one min-id representative per duplicate group WITHIN the
    increment; (2) semi-join the corpus hash scan against the BROADCAST
    increment hashes — a map-side filter over the corpus, no corpus
    shuffle, emitting only the (tiny) hit set; (3) anti-join the
    survivors against the BROADCAST hit set. A plain left-anti of
    increment-vs-corpus could only broadcast the CORPUS side (Spark
    builds the right side of an anti join), which is impossible at
    100 TB — this three-step shape keeps incremental cost ∝ increment,
    never corpus. At scale the corpus scan is a stored (content_hash)
    index table maintained by the same pipeline.
    """
    inc = increment.select(
        F.col(id_col), content_hash(F.col(text_col)).alias("content_hash")
    )
    within = (
        inc.groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    inc_hashes = within.select("content_hash")
    hits = (
        corpus.select(content_hash(F.col(text_col)).alias("content_hash"))
        .join(F.broadcast(inc_hashes), "content_hash", "left_semi")
        .distinct()
    )
    return (
        within.join(F.broadcast(hits), "content_hash", "left_anti")
        .select(id_col, "content_hash")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    threshold: float = 0.95,
    refine_iters: int = 1,
    max_sample: int = 65536,
    sample_mod: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (the cluster-then-dedup recipe
    of Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): partition the corpus into IVF cells
    with the deterministic coarse quantizer, then inside each cell drop
    every vector that has a LOWER-ID neighbor at cosine ≥ ``threshold``
    (min-id representative — the same keep rule the exact/MinHash dedups
    use, so composition is consistent).

    Returns the KEPT rows as (id, cell). Scale shape: quantizer training
    touches a bounded driver-side sample (llm/ann.py:ivf_train); assignment
    is one Arrow-batched map pass; the near-dup search is a within-cell
    self-join — shuffle key = cell, pair space = Σ|cell|², i.e. the
    n_cells knob (√N cells at real scale) bounds the quadratic term, and
    AQE's skew-join split handles an oversized cell. At 100 TB, write the
    assignment ``partitionBy(cell)`` once and run the per-cell join
    partition-local.

    ``max_sample``/``sample_mod`` forward to :func:`ivf_train` — the
    FAISS-style training-sample bounds (tens-to-hundreds of points per
    centroid suffice for a coarse quantizer). The defaults keep the
    historical behavior; production callers scaling ``n_cells`` with the
    corpus should cap the sample (e.g. ``50 * n_cells``) so quantizer
    training cost grows with CELLS, not corpus rows.
    """
    from openmrs_module_mamba_etl_spark.llm.ann import ivf_assign, ivf_train

    centroids = ivf_train(
        df, id_col, vec_col, n_cells, refine_iters,
        sample_mod=sample_mod, max_sample=max_sample,
    )
    assigned = ivf_assign(
        spread_to_cores(df.select(id_col, vec_col), id_col), vec_col, centroids, "cell"
    )
    # Per-row norm once; pairs then cost one dot fold each.
    vecs = assigned.select(
        F.col(id_col),
        F.col("cell"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    ).persist()
    a, b = vecs.alias("a"), vecs.alias("b")
    d = dot(F.col("a.vec"), F.col("b.vec"))
    n = F.col("a.nrm") * F.col("b.nrm")
    cos = F.when(n > 0, d / n).otherwise(F.lit(0.0))
    dropped = (
        a.join(
            b,
            [
                F.col("a.cell") == F.col("b.cell"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .where(cos >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return attach_caches(
        vecs.join(dropped, id_col, "left_anti")
        .select(F.col(id_col).alias("kept_id"), "cell"),
        vecs,
    )


def _propagation_round(edges, labels, maybe_broadcast):
    """One min-label-propagation + pointer-jumping round (un-checkpointed).

    Extracted so the plan of a round is testable: with ``maybe_broadcast``
    = identity, the round must contain NO forced broadcast — at scale the
    label table can exceed broadcast range and AQE alone decides the
    strategy (tests/test_llm.py pins this on the executed plan).
    """
    neighbor_min = (
        edges.join(maybe_broadcast(labels), edges.dst == labels.node)
        .groupBy("src")
        .agg(F.min("label").alias("nbr_label"))
    )
    hopped = (
        labels.join(
            maybe_broadcast(neighbor_min),
            labels.node == neighbor_min.src,
            "left",
        )
        .select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
    )
    # Path compression (pointer jumping): additionally adopt the label
    # OF my label. Plain propagation moves the component min one hop
    # per round (a 25-doc edit-chain needs 24 rounds); the shortcut
    # roughly doubles the reach each round — O(log diameter) total.
    lab_of_lab = hopped.select(
        F.col("node").alias("_ln"), F.col("label").alias("_ll")
    )
    # old_label rides along so the convergence check is a scan of THIS
    # round's checkpointed output — not an extra old⋈new join per round.
    return (
        hopped.join(
            maybe_broadcast(lab_of_lab), hopped.label == F.col("_ln"), "left"
        )
        .select(
            "node",
            "old_label",
            F.least(
                F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))
            ).alias("label"),
        )
    )


def _cc_bootstrap(
    pairs: DataFrame, id_a: str, id_b: str
) -> tuple[DataFrame, DataFrame]:
    """Symmetrized-checkpointed (edges, initial labels) for the
    connected-components loop — shared by duplicate_clusters and
    tools/profile_clusters.py so the profiler measures exactly the
    production bootstrap.

    localCheckpoint (not persist): an iterative DataFrame's logical plan
    otherwise doubles per round — by iteration ~15 analysis alone OOMs
    the driver. Checkpointing truncates lineage to the materialized RDD.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    return edges, labels


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    Pairwise dedup is not dedup until pairs are closed transitively:
    A≈B and B≈C must collapse to ONE surviving document even when A≉C.
    Min-label propagation: every node starts labeled with itself; each
    round, every node takes the min label in its neighborhood; converged
    when no label changes. Near-dup clusters have tiny diameters, so
    convergence is a handful of rounds; each round is one shuffle
    (explode edges both directions → min-agg by node). The loop is a
    driver loop, but all data stays executor-side — the driver sees only
    the converged flag.

    cluster_id = min doc id of the component (the canonical survivor —
    same keep-lowest rule as exact_dedup).
    """
    edges, labels = _cc_bootstrap(pairs, id_a, id_b)

    # The label table is one row per node-with-a-duplicate — usually orders
    # of magnitude smaller than the edge list (dup clusters are
    # near-cliques). While it fits, broadcasting keeps every iteration a
    # map-side join of the static checkpointed edges. But "usually small"
    # is not a contract: a corpus-wide run can surface a dup-node set far
    # past broadcast range, and a hard-coded hint would then OOM the
    # driver inside the one iterative operator most likely to be run at
    # full scale. So the hint is a measured, size-based branch — the node
    # count is already materialized (labels is checkpointed) and one
    # count() is O(partitions). Above the threshold every join runs as a
    # plain shuffle join: edges were checkpointed hash-partitioned on the
    # probe key (dst), so AQE reuses that exchange and only the (smaller)
    # label side moves each round. The algorithm is identical either way
    # (pinned by tests/test_llm.py across both paths).
    n_nodes = labels.count()
    if n_nodes <= broadcast_max_nodes:
        maybe_broadcast = F.broadcast
    else:
        def maybe_broadcast(df: DataFrame) -> DataFrame:
            return df
        edges = edges.repartition("dst").localCheckpoint()

    converged = False
    for _ in range(max_iters):
        new_labels = _propagation_round(edges, labels, maybe_broadcast).localCheckpoint()
        changed = (
            new_labels.where(F.col("label") != F.col("old_label"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break

    if not converged:
        # Silent non-convergence would split one real component into
        # several clusters and over-keep documents — fail loudly instead.
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iters} rounds; "
            "raise max_iters (diameter exceeds ~2^rounds with pointer "
            "jumping — pathological for a near-dup graph)"
        )

    return attach_caches(
        labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        ),
        inherit=(pairs,),
    )


def minhash_bucket_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_len: int = 3,
    portable: bool = False,
) -> DataFrame:
    """The LSH INDEX rows for ``df``: (id, shingles, band, bucket) — one
    row per (doc, band). This is the materialized form an incremental /
    streaming dedup maintains between batches (``stream_dedup_minhash``):
    new batches probe it with a plain equi-join on (band, bucket). Same
    signature kernel as :func:`minhash_lsh_pairs`
    (:func:`_minhash_signatures`), same portable-md5 contract option.

    Scale note: shingles ride along per band row here for verification
    convenience; a 100 TB index stores them once per doc (or re-reads the
    source) and keeps only (band, bucket, id) in the hot index.
    """
    rows_per_band = num_hashes // bands
    # persist(): `base` feeds both the signature aggregation and the
    # final sigs ⋈ base re-attach — unpersisted, the shingling projection
    # ran twice (r13 plan audit; same self-join-duplication class as
    # minhash_lsh_pairs/_ppjoin_pairs).
    base = spread_to_cores(df, id_col).select(
        F.col(id_col),
        word_shingles(F.col(text_col), shingle_len).alias("shingles"),
    ).persist()
    sigs = _minhash_signatures(base, id_col, num_hashes, portable)
    return attach_caches(
        sigs.join(base, id_col)
        .select(
            id_col,
            "shingles",
            F.explode(
                band_hashes(
                    F.col("sig"), bands, rows_per_band, portable=portable
                )
            ).alias("bb"),
        )
        .select(
            id_col,
            "shingles",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        ),
        base,
    )


class FuzzyDedupIndex:
    """Standing MinHash-LSH index for STREAMING near-dup detection
    (backs the ``stream_dedup_minhash`` query; parquet-dir state so any
    foreachBatch / scheduler loop can drive it).

    Per batch: probe the index AND the batch itself with one
    (band, bucket) equi-join, verify candidates with exact Jaccard, and
    record the LARGER id of every verified pair as dropped — drops are
    RETROACTIVE (a later batch can drop an earlier doc), which is what
    makes ``kept()`` invariant to batch arrival order (pinned by
    tests/test_llm.py). Incremental cost ∝ batch × collision rate.
    """

    def __init__(
        self,
        base_dir: str,
        num_hashes: int = 16,
        bands: int = 4,
        shingle_len: int = 3,
        verify_threshold: float = 0.5,
        portable: bool = True,
    ):
        import os

        self.idx_dir = os.path.join(base_dir, "index")
        self.seen_dir = os.path.join(base_dir, "seen")
        self.drop_dir = os.path.join(base_dir, "dropped")
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_len = shingle_len
        self.verify_threshold = verify_threshold
        self.portable = portable
        # State lives in the parquet dirs, not the object: a new instance
        # over an existing base_dir (restart, new foreachBatch worker)
        # must resume from the persisted index and drop log, or it would
        # silently miss cross-restart duplicates and kept() would forget
        # recorded drops.
        self.has_index = self._dir_has_data(self.idx_dir)
        self.has_dropped = self._dir_has_data(self.drop_dir)

    @staticmethod
    def _dir_has_data(path: str) -> bool:
        import os

        return os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        )

    def ingest(self, batch: DataFrame, id_col: str, text_col: str) -> None:
        ss = batch.sparkSession
        bk = minhash_bucket_table(
            batch,
            id_col,
            text_col,
            num_hashes=self.num_hashes,
            bands=self.bands,
            shingle_len=self.shingle_len,
            portable=self.portable,
        ).persist()
        batch.select(id_col).write.mode("append").parquet(self.seen_dir)
        combined = (
            bk.unionByName(ss.read.parquet(self.idx_dir))
            if self.has_index
            else bk
        )
        cand = (
            bk.select(id_col, "band", "bucket")
            .join(
                combined.select(
                    F.col(id_col).alias("other_id"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            .where(F.col(id_col) != F.col("other_id"))
            .select(
                F.least(id_col, "other_id").alias("id_a"),
                F.greatest(id_col, "other_id").alias("id_b"),
            )
            .distinct()
        )
        sh = combined.select(id_col, "shingles").dropDuplicates([id_col])
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        dropped = (
            cand.join(
                sh.select(
                    F.col(id_col).alias("id_a"),
                    F.col("shingles").alias("sh_a"),
                ),
                "id_a",
            )
            .join(
                sh.select(
                    F.col(id_col).alias("id_b"),
                    F.col("shingles").alias("sh_b"),
                ),
                "id_b",
            )
            .where(
                inter / (F.size("sh_a") + F.size("sh_b") - inter)
                >= self.verify_threshold
            )
            .select("id_b")
            .distinct()
        )
        if dropped.limit(1).count():
            dropped.write.mode("append").parquet(self.drop_dir)
            self.has_dropped = True
        bk.write.mode("append").parquet(self.idx_dir)
        self.has_index = True
        bk.unpersist()
        # release minhash_bucket_table's internal persisted base too —
        # without this every microbatch leaked one cached relation
        # (CacheManager holds strong refs; tests/test_caching.py pins the
        # no-growth invariant across a 10-batch ingest loop).
        release_caches(bk)

    def kept(self, spark: SparkSession, id_col: str) -> DataFrame:
        out = spark.read.parquet(self.seen_dir).distinct()
        if self.has_dropped:
            out = out.join(
                spark.read.parquet(self.drop_dir).withColumnRenamed(
                    "id_b", id_col
                ),
                id_col,
                "left_anti",
            )
        return out
