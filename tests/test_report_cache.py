"""The report answer cache (plans/reports.py), forced both ways: misses,
hits and fresh registries agree byte for byte; hits launch no Spark job;
a republish over changed data is never answered from a stale entry;
nondeterministic, time-dependent and non-file reports are not served from
the cache; the cache keeps to its caps; and the server's per-request
record counts hits and misses."""

from __future__ import annotations

import json
import logging
import os
import shutil
import sys
import threading
import urllib.error
import urllib.parse
import urllib.request

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from openmrs_module_mamba_etl_spark.inventory.report_queries import (
    REPORTS,
    _ensure_views,
)
from openmrs_module_mamba_etl_spark.plans import reports
from openmrs_module_mamba_etl_spark.plans.clinical import run_clinical_pipeline
from openmrs_module_mamba_etl_spark.plans.pipeline import materialize
from openmrs_module_mamba_etl_spark.plans.report_server import ReportServer
from openmrs_module_mamba_etl_spark.plans.reports import ReportAnswer, ReportRegistry
from openmrs_module_mamba_etl_spark.sources.config import (
    ReportDefinition,
    load_report_definitions,
)

EXAMPLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "examples",
    "reports.json",
)
VIEWS = ["mamba_dim_person", "mamba_dim_encounter", "mamba_flat_user_activity"]
#: values for every declared report parameter
PARAMS = {"segment": "BUILDING", "max_user_id": "50"}
#: nulls and timestamps, whose JSON must not change with the drain path
ODD_TYPES = ReportDefinition(
    report_name="nulls and timestamps",
    report_id="odd_types",
    sql_query=(
        "SELECT CAST(NULL AS INT) AS missing, encounter_id, "
        "encounter_datetime, total FROM mamba_dim_encounter "
        "ORDER BY encounter_id LIMIT 7"
    ),
)


def _registry(*sql: tuple[str, str]) -> ReportRegistry:
    return ReportRegistry(
        [ReportDefinition(report_name=rid, report_id=rid, sql_query=q) for rid, q in sql]
    )


def _params(reg: ReportRegistry, rid: str) -> dict:
    return {p.name: PARAMS[p.name] for p in reg.get(rid).query_params}


def _get(url: str):
    try:
        with urllib.request.urlopen(url, timeout=60) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _jobs_in_group(spark, group: str, fn):
    """``fn()``'s result and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def views(spark, sf_dir):
    _ensure_views(spark, sf_dir, VIEWS)


@pytest.mark.parametrize("source", ["REPORTS", "examples"])
def test_miss_hit_and_fresh_registry_identical(spark, views, source):
    defs = (
        [REPORTS.get(rid) for rid in REPORTS.ids()]
        if source == "REPORTS"
        else load_report_definitions(EXAMPLES)
    )
    reg = ReportRegistry(defs + [ODD_TYPES])
    for rid in reg.ids():
        params = _params(reg, rid)
        miss = reg.answer(spark, rid, **params)
        hit = reg.answer(spark, rid, **params)
        fresh = ReportRegistry(defs + [ODD_TYPES]).answer(spark, rid, **params)
        assert (miss.cache, hit.cache, fresh.cache) == ("miss", "hit", "miss"), rid
        assert miss.json == hit.json == fresh.json, rid
        assert miss.rows == hit.rows == len(json.loads(miss.json)), rid
        # byte-identical to the rows DataFrame.toJSON serializes
        direct = reg.run(spark, rid, **params).toJSON().collect()
        assert miss.json == "[" + ",".join(direct) + "]", rid
    odd = json.loads(reg.run_json(spark, "odd_types"))
    assert odd and all("missing" not in r and r["encounter_datetime"] for r in odd)


def test_hit_launches_no_spark_job(spark, views):
    reg = ReportRegistry.from_json(EXAMPLES)
    params = _params(reg, "latest_purchase_by_user")
    miss, miss_jobs = _jobs_in_group(
        spark, "report-cache-miss",
        lambda: reg.answer(spark, "latest_purchase_by_user", **params),
    )
    hit, hit_jobs = _jobs_in_group(
        spark, "report-cache-hit",
        lambda: reg.answer(spark, "latest_purchase_by_user", **params),
    )
    assert (miss.cache, hit.cache) == ("miss", "hit")
    assert miss_jobs, "the miss must run the report"
    assert hit_jobs == []
    assert hit.json == miss.json


def _copy_sources(sf_dir: str, src: str) -> None:
    """Each source table as a directory of part files, so a delta lands
    as one more part file."""
    for t in ("customer", "nation", "region", "orders", "events"):
        os.makedirs(os.path.join(src, f"{t}.parquet"))
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(src, f"{t}.parquet", "part-00000.parquet"),
        )


def _append_orders(src: str, n: int) -> None:
    """Land ``n`` new orders (copies of the first ``n`` under fresh keys)."""
    part = os.path.join(src, "orders.parquet", "part-00000.parquet")
    rows = pq.read_table(part).slice(0, n)
    rows = rows.set_column(
        0, "o_orderkey", pc.add(rows.column("o_orderkey"), 10**9)
    )
    pq.write_table(rows, os.path.join(src, "orders.parquet", "part-00001.parquet"))


FACT_TOTALS = (
    "fact_totals",
    "SELECT COUNT(*) AS n_person, SUM(n_encounters) AS n_encounters "
    "FROM mamba_fact_order_totals",
)


@pytest.mark.parametrize("versioned", [True, False])
def test_republish_over_changed_data_is_not_a_stale_hit(
    spark, sf_dir, tmp_path, versioned
):
    src, store = str(tmp_path / "src"), str(tmp_path / "store")
    _copy_sources(sf_dir, src)
    materialize(spark, run_clinical_pipeline(spark, src), store, versioned=versioned)
    reg = _registry(FACT_TOTALS)
    before = reg.answer(spark, "fact_totals")
    assert reg.answer(spark, "fact_totals").cache == "hit"

    _append_orders(src, 10)
    materialize(spark, run_clinical_pipeline(spark, src), store, versioned=versioned)
    after = reg.answer(spark, "fact_totals")
    assert after.cache == "miss"
    assert after.json == _registry(FACT_TOTALS).run_json(spark, "fact_totals")
    old, new = json.loads(before.json)[0], json.loads(after.json)[0]
    assert new["n_encounters"] == old["n_encounters"] + 10


def test_http_reads_during_changed_republish_see_old_or_new(spark, sf_dir, tmp_path):
    src, store = str(tmp_path / "src"), str(tmp_path / "store")
    _copy_sources(sf_dir, src)
    materialize(spark, run_clinical_pipeline(spark, src), store)
    with ReportServer(spark, _registry(FACT_TOTALS)) as srv:
        url = f"{srv.url}?report_id=fact_totals"
        status, body = _get(url)
        assert status == 200
        old = body["results"]
        seen: list = []
        stop = threading.Event()

        def client():
            while not stop.is_set():
                seen.append(_get(url))

        threads = [threading.Thread(target=client) for _ in range(2)]
        for t in threads:
            t.start()
        try:
            _append_orders(src, 10)
            materialize(spark, run_clinical_pipeline(spark, src), store)
        finally:
            stop.set()
            for t in threads:
                t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        status, body = _get(url)
    assert status == 200
    new = body["results"]
    assert new != old
    assert new == json.loads(_registry(FACT_TOTALS).run_json(spark, "fact_totals"))
    assert seen
    bad = [(st, bd) for st, bd in seen if st != 200 or bd["results"] not in (old, new)]
    assert bad == []


def test_time_dependent_and_random_reports(spark, views):
    reg = _registry(
        ("rand", "SELECT person_id, rand() AS r FROM mamba_dim_person WHERE person_id < 5"),
        ("now", "SELECT current_timestamp() AS t, COUNT(*) AS n FROM mamba_dim_person"),
        ("today", "SELECT current_date() AS d, COUNT(*) AS n FROM mamba_dim_person"),
    )
    served = {rid: [reg.answer(spark, rid).cache for _ in range(3)] for rid in reg.ids()}
    assert served == {
        "rand": ["bypass"] * 3,
        # folded into a new literal per request: never the same key twice
        "now": ["miss"] * 3,
        "today": ["miss", "hit", "hit"],
    }


def test_non_file_sources_bypass_the_cache(spark):
    spark.range(5).createOrReplaceTempView("report_cache_range")
    spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a"), (2, "b")]), "x INT, y STRING"
    ).createOrReplaceTempView("report_cache_rdd")
    spark.sql(
        "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(x, y)"
    ).createOrReplaceTempView("report_cache_local")
    reg = _registry(
        ("range", "SELECT SUM(id) AS s FROM report_cache_range"),
        ("rdd", "SELECT COUNT(*) AS n FROM report_cache_rdd"),
        ("local", "SELECT COUNT(*) AS n FROM report_cache_local"),
    )
    served = {rid: [reg.answer(spark, rid).cache for _ in range(2)] for rid in reg.ids()}
    assert served == {
        "range": ["bypass", "bypass"],
        "rdd": ["bypass", "bypass"],
        "local": ["miss", "hit"],
    }
    assert reg.run_json(spark, "range") == '[{"s":10}]'


def test_cache_stays_within_its_caps(spark, views, monkeypatch):
    reg = ReportRegistry.from_json(EXAMPLES)

    def ask(user: int):
        return reg.answer(
            spark, "latest_purchase_by_user", segment="BUILDING", max_user_id=user
        )

    sizes = {u: len(ask(u).json.encode()) for u in (20, 30, 40)}
    reg = ReportRegistry.from_json(EXAMPLES)
    cap = sizes[30] + sizes[40]
    monkeypatch.setattr(reports, "CACHE_MAX_BYTES", cap)
    for user in (20, 30, 40):
        assert ask(user).cache == "miss"
        assert reg._cache.nbytes <= cap
    # least recently used first out: 20 is gone, 30 and 40 remain
    assert [ask(u).cache for u in (40, 30)] == ["hit", "hit"]
    assert reg._cache.nbytes == cap
    assert ask(20).cache == "miss"
    assert reg._cache.nbytes <= cap

    # an answer larger than the whole cap is never kept
    monkeypatch.setattr(reports, "CACHE_MAX_BYTES", sizes[20] - 1)
    big = ReportRegistry.from_json(EXAMPLES)
    for _ in range(2):
        assert big.answer(
            spark, "latest_purchase_by_user", segment="BUILDING", max_user_id=20
        ).cache == "miss"
    assert big._cache.nbytes == 0

    monkeypatch.setattr(reports, "CACHE_MAX_BYTES", 1 << 20)
    monkeypatch.setattr(reports, "CACHE_MAX_ENTRIES", 2)
    for user in (20, 30, 40):
        ask(user)
        assert len(reg._cache) <= 2


def test_cache_bookkeeping_survives_concurrent_handlers(monkeypatch):
    """Server threads share one cache: its byte count must stay the sum of
    its entries under contention, within both caps."""
    from concurrent.futures import ThreadPoolExecutor

    class Plan:
        def sameResult(self, other):
            return other is self

    monkeypatch.setattr(reports, "CACHE_MAX_BYTES", 4000)
    monkeypatch.setattr(reports, "CACHE_MAX_ENTRIES", 20)
    cache = reports._AnswerCache()
    plans = [Plan() for _ in range(64)]

    def work(t: int) -> None:
        for i in range(400):
            k = (t * 7 + i) % 64
            cache.put((k,), plans[k], ReportAnswer("x" * (3 * k + 1), 1, "miss"))
            got = cache.get((k,), plans[k])
            assert got is None or got.json == "x" * (3 * k + 1)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            for f in [pool.submit(work, t) for t in range(16)]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    sizes = [e[2] for e in cache._entries.values()]
    assert cache.nbytes == sum(sizes) <= 4000
    assert len(cache) <= 20


def test_max_rows_is_validated_and_applied_to_hits(spark, views):
    reg = ReportRegistry.from_json(EXAMPLES)
    for bad in (-1, 1.5, "5", True):
        _, jobs = _jobs_in_group(spark, "report-bad-max-rows", lambda: pytest.raises(
            ValueError, reg.answer, spark, "total_orders_1997", max_rows=bad))
        assert jobs == []
    params = _params(reg, "latest_purchase_by_user")
    full = reg.answer(spark, "latest_purchase_by_user", **params)
    assert full.cache == "miss" and full.rows > 1
    with pytest.raises(ValueError, match="max_rows=1"):
        reg.answer(spark, "latest_purchase_by_user", max_rows=1, **params)
    exact = reg.answer(spark, "latest_purchase_by_user", max_rows=full.rows, **params)
    assert (exact.cache, exact.json) == ("hit", full.json)

    empty = _registry(("empty", "SELECT person_id FROM mamba_dim_person WHERE person_id < 0"))
    assert empty.run_json(spark, "empty", max_rows=0) == "[]"
    with pytest.raises(ValueError, match="non-negative"):
        empty.run_json(spark, "empty", max_rows=-1)


def test_http_max_rows_errors_are_400(spark, views):
    reg = ReportRegistry.from_json(EXAMPLES)
    with ReportServer(spark, reg) as srv:
        q = urllib.parse.urlencode({"report_id": "latest_purchase_by_user", **PARAMS})
        assert _get(f"{srv.url}?{q}")[0] == 200
        for bad in ("-1", "1.5", "abc", "1"):
            status, body = _get(f"{srv.url}?{q}&max_rows={bad}")
            assert status == 400, (bad, body)
            assert "max_rows" in body["error"]


def test_request_records_count_hits_and_misses(spark, views, caplog):
    sc = spark.sparkContext
    sent = [
        ("total_orders_1997", {}),
        ("total_orders_1997", {}),
        ("latest_purchase_by_user", PARAMS),
        ("latest_purchase_by_user", PARAMS),
        ("total_orders_1997", {}),
        ("latest_purchase_by_user", {**PARAMS, "max_user_id": "40"}),
        ("no_such_report", {}),
    ]
    caplog.set_level(logging.INFO, logger="openmrs_module_mamba_etl_spark.plans.report_server")
    got = []
    with ReportServer(spark, ReportRegistry.from_json(EXAMPLES)) as srv:
        for i, (rid, params) in enumerate(sent):
            if i == 3:
                newest = max(sc.statusTracker().getJobIdsForGroup(None), default=-1)
            got.append(_get(f"{srv.url}?{urllib.parse.urlencode({'report_id': rid, **params})}"))
            if i == 4:
                # two hits in a row, records included: no Spark job at all
                assert max(sc.statusTracker().getJobIdsForGroup(None), default=-1) == newest
    records = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == "openmrs_module_mamba_etl_spark.plans.report_server"
    ]
    assert [r["report_id"] for r in records] == [rid for rid, _ in sent]
    assert [r["cache"] for r in records] == [
        "miss", "hit", "miss", "hit", "hit", "miss", None,
    ]
    assert [r["status"] for r in records] == [st for st, _ in got]
    for r, (st, body) in zip(records, got):
        assert r["rows"] == (len(body["results"]) if st == 200 else 0)
        assert r["wall_ms"] > 0
