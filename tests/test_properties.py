"""Property-based tests (hypothesis) for the signature operators.

Each property pits the distributed implementation against a naive
single-process Python reference on small random inputs — the invariants
(latest-wins pivot cells, gap-rule session splits) must hold for ANY
data shape, not just the fixtures.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from openmrs_module_mamba_etl_spark.operators.flatten import FlattenSpec, flatten
from openmrs_module_mamba_etl_spark.operators.sessionize import (
    session_stats,
    sessionize,
)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# --- EAV flatten ----------------------------------------------------------

EAV_SCHEMA = StructType(
    [
        StructField("e", LongType(), True),
        StructField("a", StringType(), True),
        StructField("v", LongType(), True),
        StructField("ts", LongType(), True),
    ]
)

# pre-sanitized attribute names ⇒ attr→column mapping is identity
_eav_row = st.tuples(
    st.integers(min_value=0, max_value=4),  # entity
    st.sampled_from(["attr_a", "attr_b", "attr_c", "x1"]),
    st.integers(min_value=-100, max_value=100),  # value
    st.integers(min_value=0, max_value=40),  # ts
)


def _dedupe_eav(rows):
    """One row per (entity, attr, ts) so latest-wins has no order ties."""
    seen, out = set(), []
    for e, a, v, ts in rows:
        if (e, a, ts) not in seen:
            seen.add((e, a, ts))
            out.append((e, a, v, ts))
    return out


@given(rows=st.lists(_eav_row, max_size=50))
@settings(**SETTINGS)
def test_flatten_latest_wins_property(spark, rows):
    rows = _dedupe_eav(rows)
    df = spark.createDataFrame(rows, EAV_SCHEMA)
    spec = FlattenSpec(entity_col="e", attr_col="a", value_col="v", order_col="ts")
    got = {
        r["e"]: {c: r[c] for c in r.asDict() if c != "e"}
        for r in flatten(df, spec).collect()
    }

    attrs = sorted({a for _, a, _, _ in rows})
    expected: dict[int, dict[str, int | None]] = {}
    for e in {r[0] for r in rows}:
        cells = {}
        for a in attrs:
            obs = [(ts, v) for (e2, a2, v, ts) in rows if e2 == e and a2 == a]
            cells[a] = max(obs)[1] if obs else None
        expected[e] = cells
    assert got == expected


# --- sessionize -----------------------------------------------------------

EV_SCHEMA = StructType(
    [
        StructField("u", LongType(), True),
        StructField("ts", LongType(), True),
        StructField("v", LongType(), True),
    ]
)

_ev_row = st.tuples(
    st.integers(min_value=0, max_value=3),  # user
    st.integers(min_value=0, max_value=1000),  # ts
    st.integers(min_value=-10, max_value=10),  # value
)

GAP = 50


def _dedupe_ev(rows):
    """One event per (user, ts) — lag ordering then has no ties."""
    seen, out = set(), []
    for u, ts, v in rows:
        if (u, ts) not in seen:
            seen.add((u, ts))
            out.append((u, ts, v))
    return out


def _ref_sessions(rows):
    """Naive reference: per-user sort, split on gap > GAP, aggregate."""
    by_user: dict[int, list[tuple[int, int]]] = {}
    for u, ts, v in rows:
        by_user.setdefault(u, []).append((ts, v))
    out = set()
    for u, evs in by_user.items():
        evs.sort()
        sid, start, last, n, s = 0, None, None, 0, 0
        for ts, v in evs:
            if last is None or ts - last > GAP:
                if start is not None:
                    out.add((u, sid, start, last, n, float(s)))
                sid, start, n, s = sid + 1, ts, 0, 0
            last, n, s = ts, n + 1, s + v
        out.add((u, sid, start, last, n, float(s)))
    return out


@given(rows=st.lists(_ev_row, min_size=1, max_size=50))
@settings(**SETTINGS)
def test_sessionize_matches_reference(spark, rows):
    rows = _dedupe_ev(rows)
    df = spark.createDataFrame(rows, EV_SCHEMA)
    stats = session_stats(df, "u", "ts", "v", gap=GAP)
    got = {
        (
            r["u"],
            r["session_id"],
            r["session_start_ns"],
            r["session_end_ns"],
            r["n_events"],
            r["sum_value"],
        )
        for r in stats.collect()
    }
    assert got == _ref_sessions(rows)


@given(rows=st.lists(_ev_row, min_size=1, max_size=50))
@settings(**SETTINGS)
def test_sessionize_gap_invariant(spark, rows):
    """Adjacent same-user events share a session iff their gap ≤ GAP."""
    rows = _dedupe_ev(rows)
    df = spark.createDataFrame(rows, EV_SCHEMA)
    tagged = sessionize(df, "u", "ts", gap=GAP)
    by_user: dict[int, list[tuple[int, int]]] = {}
    for r in tagged.collect():
        by_user.setdefault(r["u"], []).append((r["ts"], r["session_id"]))
    for evs in by_user.values():
        evs.sort()
        assert evs[0][1] == 1  # sessions are 1-based per user
        for (t1, s1), (t2, s2) in zip(evs, evs[1:]):
            assert (s2 == s1) == (t2 - t1 <= GAP)
            assert s2 in (s1, s1 + 1)  # ids are dense/monotone


# --- incremental merge ----------------------------------------------------

_kv_row = st.tuples(
    st.integers(min_value=0, max_value=9),  # key
    st.integers(min_value=0, max_value=99),  # payload
)


@given(
    base=st.lists(_kv_row, max_size=25),
    updates=st.lists(_kv_row, max_size=25),
)
@settings(**SETTINGS)
def test_merge_upsert_matches_dict_semantics(spark, base, updates):
    """merge_upsert == SQL MERGE: updates win per key, unmatched base rows
    survive, new keys insert. (Reference semantics: incremental mode 'only
    adds/modifies what has changed'.)"""
    from openmrs_module_mamba_etl_spark.operators.incremental import merge_upsert

    # one row per key on each side (MERGE requires unique source keys)
    base = list({k: (k, v) for k, v in base}.values())
    updates = list({k: (k, v) for k, v in updates}.values())

    schema = "k long, v long"
    merged = merge_upsert(
        spark.createDataFrame(base, schema),
        spark.createDataFrame(updates, schema),
        ["k"],
    )
    got = {(r["k"], r["v"]) for r in merged.collect()}

    expected = dict(base)
    expected.update(dict(updates))
    assert got == set(expected.items())


# --- prefix-filtered Jaccard ---------------------------------------------

_doc_text = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
    min_size=0,
    max_size=12,
).map(" ".join)


def _shingle_set(text: str, n: int) -> set[str]:
    """Python replica of ``word_shingles``: distinct word n-grams, or the
    whole token string (empty for an empty text) when shorter than n."""
    toks = text.lower().split()
    if len(toks) >= n:
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)}


def _naive_pairs(sets, threshold, containment):
    """All-pairs reference: Jaccard over i < j (rounded, then compared),
    containment |A∩B|/|A| over i ≠ j (compared, then rounded)."""
    out = {}
    for i, a in sets:
        for j, b in sets:
            if (i == j if containment else i >= j) or not a or not b:
                continue
            inter = len(a & b)
            if containment:
                if inter / len(a) >= threshold:
                    out[(i, j)] = round(inter / len(a), 6)
            elif round(inter / len(a | b), 6) >= threshold:
                out[(i, j)] = round(inter / len(a | b), 6)
    return out


def _ppjoin_vs_naive(spark, docs, threshold, n=2):
    """Each public PPJoin caller against the naive all-pairs loop;
    returns the (token, n-gram, containment) results."""
    from openmrs_module_mamba_etl_spark.llm.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        token_jaccard_pairs,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    cases = [
        (
            token_jaccard_pairs(df, "doc_id", "text", threshold),
            "jaccard",
            [(i, set(t.split())) for i, t in docs],
            False,
        ),
        (
            ngram_jaccard_pairs(df, "doc_id", "text", n=n, threshold=threshold),
            "jaccard",
            [(i, _shingle_set(t, n)) for i, t in docs],
            False,
        ),
        (
            containment_pairs(df, "doc_id", "text", n=n, threshold=threshold),
            "containment",
            [(i, _shingle_set(t, n)) for i, t in docs],
            True,
        ),
    ]
    results = []
    for pairs, score_col, sets, containment in cases:
        got = {(r["id_a"], r["id_b"]): r[score_col] for r in pairs.collect()}
        assert got == _naive_pairs(sets, threshold, containment), score_col
        results.append(got)
    return results


@given(
    texts=st.lists(_doc_text, min_size=2, max_size=10),
    threshold=st.sampled_from([0.5, 0.7, 0.9]),
)
@settings(**SETTINGS)
def test_prefix_filtered_jaccard_matches_naive(spark, texts, threshold):
    """The AllPairs prefix filter must lose NOTHING: token-set Jaccard,
    word-n-gram Jaccard and containment each equal the naive O(n²)
    all-pairs result, at any threshold."""
    _ppjoin_vs_naive(spark, list(enumerate(texts)), threshold)


def test_ppjoin_edge_cases_match_naive(spark):
    """An empty document, identical documents, and A ⊂ B."""
    docs = [
        (0, ""),
        (1, "aa bb cc dd"),
        (2, "aa bb cc dd"),
        (3, "aa bb"),
        (4, "aa bb cc dd ee ff"),
        (5, ""),
    ]
    tok, gram, cont = _ppjoin_vs_naive(spark, docs, 0.8)
    # identical documents score 1.0 under every measure
    assert tok[(1, 2)] == gram[(1, 2)] == 1.0
    assert cont[(1, 2)] == cont[(2, 1)] == 1.0
    # A ⊂ B: fully contained one way only (C(4→1) = 3/5 < 0.8)
    assert cont[(3, 1)] == cont[(1, 4)] == 1.0
    assert (4, 1) not in cont
    # an empty text has no tokens, so it pairs with nothing token-wise;
    # its one shingle is the empty string, shared with the other empty text
    assert not any({0, 5} & set(p) for p in tok)
    assert gram[(0, 5)] == cont[(0, 5)] == cont[(5, 0)] == 1.0


# --- column profiler ------------------------------------------------------

_opt_int = st.one_of(st.none(), st.integers(min_value=-5, max_value=5))


@given(rows=st.lists(st.tuples(_opt_int, _opt_int), max_size=30))
@settings(**SETTINGS)
def test_profile_matches_pandas(spark, rows):
    """One-pass profile == per-column pandas ground truth (nulls included)."""
    from openmrs_module_mamba_etl_spark.operators.profile import profile_table

    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        r["column"]: (r["n_rows"], r["n_non_null"], r["n_null"], r["n_distinct"],
                      r["min_value"], r["max_value"])
        for r in profile_table(df, exact_distinct=True).collect()
    }
    for idx, name in [(0, "a"), (1, "b")]:
        vals = [r[idx] for r in rows]
        nn = [v for v in vals if v is not None]
        expected = (
            len(vals),
            len(nn),
            len(vals) - len(nn),
            len(set(nn)),
            float(min(nn)) if nn else None,
            float(max(nn)) if nn else None,
        )
        assert got[name] == expected


def test_hll_sketch_merge_is_associative_and_accurate(spark, sf_dir):
    """Union-of-part-sketches must equal the whole-corpus sketch EXACTLY
    (register-max merge is associative), and track exact distincts within
    HLL's error envelope — the contract that lets 100 TB pipelines store
    per-partition sketches and never rescan."""
    from pyspark.sql import functions as F

    from openmrs_module_mamba_etl_spark.sources.parquet import table

    ev = table(spark, sf_dir, "events")
    merged = (
        ev.groupBy((F.col("event_id") % 13).alias("part"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]["est"]
    )
    whole = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).collect()[0]["est"]
    assert merged == whole  # associativity: identical sketch, not "close"
    exact = ev.select("user_id").distinct().count()
    assert abs(merged - exact) / exact < 0.05


def test_sketch_merge_exactness_scope(spark):
    """agg_sketch_merge's exact oracle is scoped to per-group distinct
    domains under SKETCH_EXACT_DOMAIN_BOUND (HLL_4 coupon mode). Assert
    the bound holds — and the estimate really is exact — at the LARGEST
    tested scale, so a testdata generation that outgrows the bound fails
    here before the driver's oracle can flap. If this fires: downgrade
    agg_sketch_merge to rows-only (decision recorded at the constant)."""
    import os

    from pyspark.sql import functions as F

    from openmrs_module_mamba_etl_spark.inventory.aggregates import (
        SKETCH_EXACT_DOMAIN_BOUND,
        agg_sketch_merge,
    )
    from openmrs_module_mamba_etl_spark.sources.parquet import table

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata absent")
    ev = table(spark, sf_dir, "events")
    exact = (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .orderBy("event_type")
        .collect()
    )
    assert max(r["n"] for r in exact) < SKETCH_EXACT_DOMAIN_BOUND
    got = agg_sketch_merge(spark, sf_dir).collect()
    assert [(r["event_type"], r["est_users"]) for r in got] == [
        (r["event_type"], r["n"]) for r in exact
    ]


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), max_codepoint=0x2FF
            ),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_portable_hash_matches_hashlib(spark, strings):
    """The md5 bucket contract must equal an independent hashlib
    computation for arbitrary (unicode) strings — this is the invariant
    that lets DuckDB oracles replay MinHash signatures, band buckets,
    sampling decisions, and shuffle order bit-for-bit on any engine."""
    import hashlib

    from pyspark.sql import functions as F

    from openmrs_module_mamba_etl_spark.functions.similarity import (
        portable_hash32,
        portable_hash60,
    )

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r["s"]: (r["h32"], r["h60"])
        for r in df.select(
            "s",
            portable_hash32(F.col("s")).alias("h32"),
            portable_hash60(F.col("s")).alias("h60"),
        ).collect()
    }
    for s in strings:
        d = hashlib.md5(s.encode("utf-8")).hexdigest()
        assert got[s] == (int(d[:8], 16), int(d[:15], 16)), s


def test_kmv_jaccard_tracks_exact(spark, sf_dir):
    """The KMV sketch estimate must sit within the k=64 error envelope of
    the exact per-pair Jaccard (RSE ~ 1/sqrt(64) = 0.125; allow 3 RSE)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from openmrs_module_mamba_etl_spark.inventory.aggregates import (
        agg_kmv_jaccard,
    )
    from openmrs_module_mamba_etl_spark.sources.parquet import table

    ev = table(spark, sf_dir, "events")
    sets = {
        r["event_type"]: None
        for r in ev.select("event_type").distinct().collect()
    }
    for t in sets:
        sets[t] = {
            r["user_id"]
            for r in ev.where(F.col("event_type") == t)
            .select("user_id")
            .distinct()
            .collect()
        }
    exact = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a, b in combinations(sorted(sets), 2)
    }
    est = {
        (r["ta"], r["tb"]): r["jaccard_est"]
        for r in agg_kmv_jaccard(spark, sf_dir).collect()
    }
    assert set(est) == set(exact)
    for pair in exact:
        assert abs(est[pair] - exact[pair]) <= 3 * 0.125, (
            pair, est[pair], exact[pair],
        )


def test_histogram_degenerate_bounds_single_bin(spark, tmp_path):
    """A constant-valued column makes hi == lo; the guarded width must put
    every row in bin 0 (never NULL/NaN bins from x/0) — same contract as
    profile_drift's guard."""
    from openmrs_module_mamba_etl_spark.inventory.aggregates import (
        agg_histogram,
    )

    spark.createDataFrame(
        [(i, 42.0) for i in range(50)], "o_orderkey long, o_totalprice double"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    rows = agg_histogram(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["bin"] == 0 and r["n"] == 50
    assert r["bin_min"] == 42.0 and r["bin_max"] == 42.0


def test_kmv_union_tracks_exact(spark, sf_dir):
    """The KMV union/intersection cardinality estimates must track the
    exact set sizes within the sketch's error envelope (RSE ≈ 1/√(k−2),
    k = 64 → 3σ ≈ 0.38; exact when the union fits the sketch)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from openmrs_module_mamba_etl_spark.inventory.aggregates import (
        agg_kmv_union,
    )
    from openmrs_module_mamba_etl_spark.sources.parquet import table

    ev = table(spark, sf_dir, "events")
    sets = {}
    for t in [r["event_type"] for r in ev.select("event_type").distinct().collect()]:
        sets[t] = {
            r["user_id"]
            for r in ev.where(F.col("event_type") == t)
            .select("user_id").distinct().collect()
        }
    est = {
        (r["ta"], r["tb"]): (r["est_union"], r["est_intersect"])
        for r in agg_kmv_union(spark, sf_dir).collect()
    }
    exact = {
        (a, b): (len(sets[a] | sets[b]), len(sets[a] & sets[b]))
        for a, b in combinations(sorted(sets), 2)
    }
    assert set(est) == set(exact)
    for pair, (xu, xi) in exact.items():
        eu, ei = est[pair]
        if xu <= 64:
            assert eu == xu, (pair, eu, xu)
        else:
            assert abs(eu / xu - 1) <= 0.38, (pair, eu, xu)
            # intersection estimate inherits union + jaccard error
            assert abs(ei - xi) <= max(8.0, 0.6 * xi), (pair, ei, xi)


def test_sampled_quantiles_rank_accuracy(spark, sf_dir):
    """The hash-sampled quantile estimates must sit at the right rank of
    the TRUE distribution: empirical CDF at each estimate within
    3σ ≈ 3·√(q(1−q)/4096) of the target quantile (sample smaller than
    4096 → estimates are exact)."""
    import math

    from pyspark.sql import functions as F

    from openmrs_module_mamba_etl_spark.inventory.aggregates import (
        agg_quantile_sample,
    )
    from openmrs_module_mamba_etl_spark.sources.parquet import table

    est = agg_quantile_sample(spark, sf_dir).collect()[0]
    orders = table(spark, sf_dir, "orders")
    n = orders.count()
    for q, col in [(0.5, "p50_est"), (0.9, "p90_est"), (0.99, "p99_est")]:
        below = orders.where(F.col("o_totalprice") <= est[col]).count()
        cdf = below / n
        tol = 3 * math.sqrt(q * (1 - q) / min(est["n_sample"], 4096)) + 0.01
        assert abs(cdf - q) <= tol, (col, cdf, q, tol)
