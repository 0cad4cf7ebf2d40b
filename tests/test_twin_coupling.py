"""Structural coupling between rows-only keys and what covers them.

The 7 rows-only registry keys (no DuckDB oracle by design) are safe only
because each shares its pipeline core with an oracle-checked ``*_portable``
twin or a pinned invariant test. That sharing must be the SAME helper
OBJECTS, not copied expressions — otherwise a later edit to the twin's
helper leaves the seeded original silently uncovered (nothing re-samples a
rows-only key). These assertions pin the coupling itself, the way
``_cc_bootstrap`` couples ``dedup_clusters`` to its profiler: a refactor
that splits a pair onto divergent code paths fails HERE, before the
divergence voids the coverage argument.

Rows-only keys → coverage (VERDICT r7 "watch item 2" / round-8 task 8):
  dedup_minhash_lsh      → dedup_minhash_portable  (shared minhash_lsh_pairs)
  dedup_simhash          → dedup_simhash_portable  (shared simhash_pairs)
  ann_topk_ivf           → ann_topk_ivf_portable   (shared cosine scoring;
                           arrow/JVM assignment equivalence pinned below)
  dedup_semantic         → dedup_embedding_lsh oracle + test_llm brute-force
                           (shared dot/norm cosine arithmetic)
  emb_pca_project        → emb_covariance oracle    (shared covariance_long)
  agg_approx_distinct    → exact-count error-bound invariant test
  multimodal_phash_dedup → multimodal_decode_real oracle (shared encode_png)
                           + test_phash bit-level _dhash64 pin
"""

from __future__ import annotations

import ast
import inspect
import textwrap
from pathlib import Path

from openmrs_module_mamba_etl_spark.functions import similarity as sim
from openmrs_module_mamba_etl_spark.inventory import llm_queries as lq
from openmrs_module_mamba_etl_spark.inventory import mining_queries as mq
from openmrs_module_mamba_etl_spark.inventory import sql_queries as sq
from openmrs_module_mamba_etl_spark.llm import ann, linalg
from openmrs_module_mamba_etl_spark.llm import dedup as dd
from openmrs_module_mamba_etl_spark.llm import multimodal as mm

TESTS_DIR = Path(__file__).resolve().parent


def _calls(fn) -> dict[str, list[ast.Call]]:
    """Call-site index of a function body: name → ast.Call nodes (both
    bare names and attribute tails, so ``pkg.helper(...)`` counts)."""
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    out: dict[str, list[ast.Call]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name:
                out.setdefault(name, []).append(node)
    return out


def _kw(call: ast.Call, name: str):
    """Literal keyword value at a call site (None when absent/non-literal)."""
    for k in call.keywords:
        if k.arg == name and isinstance(k.value, ast.Constant):
            return k.value.value
    return None


def test_minhash_pair_shares_one_pipeline():
    # both keys route through the SAME minhash_lsh_pairs object; the twin
    # differs only by the portable hash-family flag
    assert "minhash_lsh_pairs" in _calls(lq.dedup_minhash_lsh)
    twin_calls = _calls(lq.dedup_minhash_portable)["minhash_lsh_pairs"]
    assert _kw(twin_calls[0], "portable") is True
    seeded_call = _calls(lq.dedup_minhash_lsh)["minhash_lsh_pairs"][0]
    assert _kw(seeded_call, "portable") is None  # production xxhash family
    assert lq.minhash_lsh_pairs is dd.minhash_lsh_pairs


def test_minhash_signatures_share_one_kernel():
    # the pair join and the streaming index (stream_dedup_minhash, oracle-
    # checked) sign documents through the SAME helper, so the seeded
    # dedup_minhash_lsh key and the streaming index cannot drift apart
    assert "_minhash_signatures" in _calls(dd.minhash_lsh_pairs)
    assert "_minhash_signatures" in _calls(dd.minhash_bucket_table)


def test_simhash_pair_shares_one_pipeline():
    assert "simhash_pairs" in _calls(lq.dedup_simhash)
    twin_calls = _calls(lq.dedup_simhash_portable)["simhash_pairs"]
    assert _kw(twin_calls[0], "portable") is True
    seeded_call = _calls(lq.dedup_simhash)["simhash_pairs"][0]
    assert _kw(seeded_call, "portable") is None
    assert lq.simhash_pairs is dd.simhash_pairs


def test_ivf_pair_shares_scoring_core():
    # the two query functions route to ivf_topk / ivf_topk_portable, and
    # BOTH of those score through the one shared cosine Column helper —
    # the stage the portable oracle hash-verifies
    assert "ivf_topk" in _calls(lq.ann_topk_ivf)
    assert "ivf_topk_portable" in _calls(lq.ann_topk_ivf_portable)
    # r13: the shared scoring core is _cosine_to_query — cosine(vec, q)
    # with the literal query's norm folded driver-side (bit-identical
    # values, one fewer O(dim) fold per row); the coupling invariant is
    # unchanged: ONE helper, used by both the production and the
    # oracle-hash-verified portable variant.
    assert "_cosine_to_query" in _calls(ann.ivf_topk)
    assert "_cosine_to_query" in _calls(ann.ivf_topk_portable)
    assert ann.cosine is sim.cosine
    # both share the same query-vector bootstrap in the query layer
    assert "_query_vec" in _calls(lq.ann_topk_ivf)
    assert "_query_vec" in _calls(lq.ann_topk_ivf_portable)


def test_ivf_arrow_and_jvm_assignment_agree(spark):
    # ann_topk_ivf assigns cells with the Arrow matmul kernel; the
    # oracle-checked twin uses the JVM nearest_cell expression. The
    # coverage argument needs them EQUIVALENT — including argmax ties,
    # which both must resolve to the lowest cell index (duplicate
    # centroid below forces a tie for every row).
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n = 8, 64
    vecs = rng.normal(size=(n, dim)).round(3).tolist()
    centroids = rng.normal(size=(3, dim)).round(3).tolist()
    centroids.append(list(centroids[1]))  # exact duplicate → cosine tie

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vid int, vec array<double>"
    )
    arrow = {
        r["vid"]: r["cell"]
        for r in ann.ivf_assign(df, "vec", centroids, "cell").collect()
    }
    jvm = {
        r["vid"]: r["cell"]
        for r in df.withColumn(
            "cell", ann.nearest_cell(F.col("vec"), centroids)
        ).collect()
    }
    assert arrow == jvm
    assert 3 not in set(jvm.values())  # ties went to the lower index


def test_semantic_dedup_shares_cosine_arithmetic():
    # dedup_semantic's in-cell cosine is the same dot/norm fold the
    # oracle-checked dedup_embedding_lsh path replays in SQL
    sem = _calls(dd.semantic_dedup)
    assert "dot" in sem and "norm" in sem
    lsh = _calls(dd.embedding_cosine_pairs)
    assert "dot" in lsh and "norm" in lsh
    assert dd.dot is sim.dot and dd.norm is sim.norm
    # and its quantizer is the shared IVF trainer/assigner, not a fork
    assert "ivf_train" in sem and "ivf_assign" in sem


def test_pca_project_shares_covariance_core():
    # emb_pca_project's only distributed aggregation is covariance_long —
    # the exact object the oracled emb_covariance key hash-verifies
    assert "pca_project" in _calls(lq.emb_pca_project)
    assert "pca_components" in _calls(linalg.pca_project)
    assert "covariance_long" in _calls(linalg.pca_components)
    assert "covariance_long" in _calls(lq.emb_covariance)


def test_approx_distinct_error_bound_pin_exists():
    # agg_approx_distinct has no twin; its safety is the invariant test
    # bounding the HLL estimate against the exact count — assert that pin
    # is still in place and still compares against countDistinct
    src = (TESTS_DIR / "test_pipeline_e2e.py").read_text()
    tree = ast.parse(src)
    pins = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
        and node.name.startswith("test_")
        and "agg_approx_distinct" in ast.get_source_segment(src, node)
        and "countDistinct" in ast.get_source_segment(src, node)
    ]
    assert pins, "agg_approx_distinct lost its exact-count invariant pin"


def test_phash_dedup_shares_codec_and_kernel():
    # multimodal_phash_dedup: PNG construction shares encode_png with the
    # oracled multimodal_decode_real recipe, and the perceptual kernel is
    # the _dhash64 phash_images uses — bit-pinned by test_phash.py
    calls = _calls(mq.multimodal_phash_dedup)
    assert "phash_images" in calls and "encode_png" in calls
    assert "_dhash64" in _calls(mm.phash_images)
    phash_pin = (TESTS_DIR / "test_phash.py").read_text()
    assert "_dhash64" in phash_pin


def test_rows_only_set_matches_this_suite():
    # if a new rows-only key appears (or one gains an oracle), this suite
    # must be revisited — fail loudly instead of silently under-covering
    import __spark_entry__ as E

    rows_only = sorted(set(E.queries()) - set(E.oracle_sql()))
    assert rows_only == [
        "agg_approx_distinct",
        "ann_topk_ivf",
        "dedup_minhash_lsh",
        "dedup_semantic",
        "dedup_simhash",
        "emb_pca_project",
        "multimodal_phash_dedup",
    ]
