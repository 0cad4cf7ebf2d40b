"""Cache-lifecycle registry (functions/caching.py) — r14 unpersist
hygiene (guide §5: "unpersist when done").

Operators that persist() shared intermediates attach them to the frame
they return; callers owning a terminal action release them. The decisive
invariant: a streaming ingest loop (FuzzyDedupIndex — one
minhash_bucket_table per batch, each with an internal persisted base)
must NOT grow the set of pinned relations batch over batch — Spark's
CacheManager holds strong references, so a leak here lives for the
session.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from openmrs_module_mamba_etl_spark.functions.caching import (
    attach_caches,
    cached_deps,
    release_caches,
)

_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, _DOC_SCHEMA)


def _rdd_mark(spark) -> int:
    """Id of a fresh RDD: every RDD a test persists after this call has a
    larger id."""
    return spark.sparkContext.emptyRDD().id()


def _n_persistent_rdds(spark, since: int) -> int:
    """Persistent RDDs with an id above ``since`` — the ones the calling
    test made. Earlier tests can leave persistent RDDs that clearCache()
    does not touch (duplicate_clusters' localCheckpoint RDDs, reclaimed
    only when the ContextCleaner gets to them), so a session-wide count
    drifts with test order."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    return sum(1 for i in ids if i > since)


def test_attach_and_inherit_semantics(spark):
    a = _docs(spark, [(1, "x")])
    b = _docs(spark, [(2, "y")])
    out = attach_caches(_docs(spark, [(3, "z")]), a, inherit=())
    child = attach_caches(_docs(spark, [(4, "w")]), b, inherit=(out,))
    assert cached_deps(out) == (a,)
    # inherited deps come before the child's own
    assert cached_deps(child) == (a, b)
    assert release_caches(child) == 2
    assert cached_deps(child) == ()
    # releasing twice is a no-op
    assert release_caches(child) == 0


def test_release_unpins_jaccard_intermediates(spark):
    from openmrs_module_mamba_etl_spark.llm.dedup import token_jaccard_pairs

    spark.catalog.clearCache()
    mark = _rdd_mark(spark)
    docs = _docs(
        spark,
        [(i, f"alpha beta gamma delta tok{i} epsilon zeta") for i in range(30)]
        + [(100 + i, "alpha beta gamma delta epsilon zeta") for i in range(5)],
    )
    pairs = token_jaccard_pairs(docs, "doc_id", "text", threshold=0.9)
    pairs.count()  # terminal action populates the persisted intermediates
    deps = cached_deps(pairs)
    assert len(deps) == 2  # toked, ranked
    assert _n_persistent_rdds(spark, mark) > 0
    released = release_caches(pairs, blocking=True)
    assert released == 2
    assert _n_persistent_rdds(spark, mark) == 0


def test_clusters_inherit_pair_caches(spark):
    from openmrs_module_mamba_etl_spark.llm.dedup import (
        duplicate_clusters,
        token_jaccard_pairs,
    )

    spark.catalog.clearCache()
    docs = _docs(
        spark,
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d e f x")],
    )
    pairs = token_jaccard_pairs(docs, "doc_id", "text", threshold=0.9)
    clusters = duplicate_clusters(pairs)
    assert len(cached_deps(clusters)) == 2  # inherited from pairs
    clusters.count()
    release_caches(clusters, blocking=True)
    # CacheManager (DataFrame persists — strong refs) must be empty; the
    # loop's localCheckpoint RDDs are NOT counted: those are weak-ref
    # ContextCleaner-reclaimed by design once unreferenced.
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_streaming_ingest_does_not_leak_cached_relations(spark, tmp_path):
    """10-batch FuzzyDedupIndex loop: pinned-relation count must not grow
    with batch number (pre-r14 every ingest leaked minhash_bucket_table's
    internal persisted base — one relation per microbatch, forever)."""
    from openmrs_module_mamba_etl_spark.llm.dedup import FuzzyDedupIndex

    spark.catalog.clearCache()
    mark = _rdd_mark(spark)
    idx = FuzzyDedupIndex(str(tmp_path / "fuzzy"))
    counts = []
    for b in range(10):
        batch = _docs(
            spark,
            [
                (b * 10 + i, f"one two three four five six b{b} i{i}")
                for i in range(4)
            ],
        )
        idx.ingest(batch, "doc_id", "text")
        counts.append(_n_persistent_rdds(spark, mark))
    # no growth batch-over-batch (pre-fix this read [1, 2, ..., 10]) and
    # nothing left registered in the CacheManager after the loop
    assert counts[-1] == counts[0], (
        f"cached-relation growth across batches: {counts}"
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    kept = idx.kept(spark, "doc_id")
    assert kept.count() > 0


def test_prefer_smj_env_gate(monkeypatch):
    """SPARK_GRAFT_PREFER_SMJ overrides the static join preference
    (r14, ADVICE): default stays shuffled-hash-permitting ('false'), and
    a deployment can restore sort-merge without code changes. Checked at
    conf-dict level — the running session is shared/session-scoped."""
    import importlib

    from openmrs_module_mamba_etl_spark import session as S

    monkeypatch.delenv("SPARK_GRAFT_PREFER_SMJ", raising=False)
    importlib.reload(S)
    assert S.DEFAULT_CONF["spark.sql.join.preferSortMergeJoin"] == "false"
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", "true")
    importlib.reload(S)
    assert S.DEFAULT_CONF["spark.sql.join.preferSortMergeJoin"] == "true"
    monkeypatch.delenv("SPARK_GRAFT_PREFER_SMJ", raising=False)
    importlib.reload(S)
