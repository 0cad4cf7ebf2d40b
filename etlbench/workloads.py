"""The benchmark's workloads, driven only through the engine's public entry
points: the clinical pipeline and ``materialize``, ``EtlScheduler``,
``ReportServer`` over the ``REPORTS`` registry, and registered queries.

Each workload returns its samples; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

import expected
from spans import Tracer

#: the curation queries, in pass order
CURATION_KEYS = ["dedup_token_jaccard", "dedup_clusters", "etl_llm_corpus"]
#: timed curation passes per ``llm_curation`` run, at least (a third
#: would push a session of runs past its time budget on a slow box)
MIN_PASSES = 2
#: untimed warm-up passes, over the first ``WARM_DOCUMENTS`` documents of
#: the corpus: the JIT warms with the number of passes more than with
#: their data, so a small slice warms as well at less cost
WARM_PASSES = 3
WARM_DOCUMENTS = 30
#: untimed and timed full refreshes, and ticks under report load, per
#: ``etl_lane`` run (the first timed refresh still runs ~20 % slower than
#: the next two, as the JIT compiles; their median leaves it out)
WARM_REFRESHES = 1
FULL_REFRESHES = 3
LOADED_TICKS = 1
#: length of the seeded report request list the clients cycle through
REQUEST_LIST = 4096
#: ``c_mktsegment``'s values in sf0.1
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
#: a request no report answers (``--inject-bad-request``)
BAD_REQUEST = ("no_such_report", {})

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Bench:
    """One run's session, settings and failure tally."""

    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    connections: int
    trace: bool
    #: smoke runs check the benchmark itself: small inputs, no warm-up,
    #: fewest samples
    smoke: bool = False
    #: make one report request fail on purpose (the benchmark's own tests)
    inject_bad_request: bool = False
    attempted: int = 0
    failures: Counter = field(default_factory=Counter)
    info: dict = field(default_factory=dict)


@dataclass
class Samples:
    """Timings of successful operations only."""

    batch_s: list[float]
    request_ms: list[float]
    requests_per_s: float


def child(b: Bench, script: str, *args: str, stdin: dict | None = None) -> dict:
    """Run one of the benchmark's scripts in its own process (so its data
    never counts in this process's memory) and return its JSON answer."""
    cmd = [sys.executable, os.path.join(HERE, script), *args]
    if b.smoke and script == "gen.py":
        cmd.append("--smoke")
    proc = subprocess.run(cmd, input=json.dumps(stdin) if stdin else None,
                          capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"{script} exited with {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


# --- shared ETL pieces -----------------------------------------------------


def apply_delta(src: str, stage: str, index: int) -> None:
    """Land the delta ``gen.py`` staged as ``index`` as new part files of
    the source fact tables."""
    for t in ("events", "orders"):
        os.rename(os.path.join(stage, str(index), f"{t}.parquet"),
                  os.path.join(src, f"{t}.parquet", f"part-{index + 1:05d}.parquet"))


class Lane:
    """The scheduler's ``run_once``: append the next delta on an
    incremental tick, rebuild, publish to the analysis store."""

    def __init__(self, b: Bench, src: str, stage: str, store: str,
                 tracer: Tracer | None = None):
        self.b = b
        self.tracer = tracer or b.tracer
        self.src = src
        self.stage = stage
        self.store = store
        self.applied = 0
        #: (snapshot, monotonic commit time) of every finished publish
        self.commits: list[tuple[int, float]] = []

    def run_once(self, incremental: bool) -> None:
        from openmrs_module_mamba_etl_spark.plans.clinical import run_clinical_pipeline
        from openmrs_module_mamba_etl_spark.plans.pipeline import materialize

        tr = self.tracer
        with tr.span("scheduler.tick" if incremental else "scheduler.full"):
            if incremental:
                apply_delta(self.src, self.stage, self.applied)
                self.applied += 1
            with tr.span("pipeline.run"):
                ctx = run_clinical_pipeline(self.b.spark, self.src, incremental=incremental)
            with tr.span("pipeline.materialize"):
                materialize(self.b.spark, ctx, self.store)
        self.commits.append((self.applied, time.monotonic()))


def request_list(seed: int, top_user: int) -> list[tuple[str, dict]]:
    """Seeded report requests: id uniform over the three reports; the
    parameters of ``latest_purchase_by_user`` drawn uniformly over their
    real domains (the five segments, and every user id up to
    ``top_user``), so nearly all of its requests are distinct."""
    rng = np.random.default_rng([seed, 4])
    ids = ["distinct_buyers_window", "latest_purchase_by_user", "total_orders_1997"]
    out = []
    for i in rng.integers(0, 3, REQUEST_LIST):
        params = {}
        if ids[i] == "latest_purchase_by_user":
            params = {
                "segment": SEGMENTS[rng.integers(0, len(SEGMENTS))],
                "max_user_id": str(int(rng.integers(0, top_user + 1))),
            }
        out.append((ids[i], params))
    return out


def start_clients(b: Bench, url: str, requests: list) -> subprocess.Popen:
    """Start the closed-loop clients; they run until :func:`stop_clients`."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    proc.stdin.write(json.dumps({
        "url": url, "connections": b.connections, "requests": requests,
    }) + "\n")
    proc.stdin.flush()
    return proc


def stop_clients(proc: subprocess.Popen) -> dict:
    proc.stdin.close()
    out = proc.stdout.read()
    if proc.wait(timeout=120) != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    return json.loads(out)


def _is_vacuumed_read(detail: str) -> bool:
    return any(s in detail for s in (
        "FILE_NOT_EXIST", "FileNotFound", "does not exist", "PATH_NOT_FOUND"))


def issued(runs: dict, requests: list) -> list[tuple[str, dict]]:
    """The distinct requests a burst got a 200 for, which need answers."""
    keys = {}
    for r in runs["results"]:
        rid, params = requests[r[1]]
        if r[4] == 200 and rid in expected.REPORT_SQL:
            keys[expected.request_key(rid, params)] = (rid, params)
    return list(keys.values())


def check_responses(b: Bench, runs: dict, answers: dict, requests: list,
                    commits: list[tuple[int, float]], phase: str) -> list[float]:
    """Check every response against the answer of a snapshot it may see.

    A request sent after snapshot s committed must see s or a later one;
    it may also see the snapshot being published while it runs. Returns
    the latencies of the correct responses; failures are tallied by kind,
    nothing is retried.
    """
    results = runs["results"]
    b.attempted += len(results)
    last = commits[-1][0]
    matched: Counter = Counter()
    keys = set()
    good = []
    for _, idx, sent, lat_ms, status, detail in results:
        rid, params = requests[idx]
        key = expected.request_key(rid, params)
        keys.add(key)
        if status != 200:
            b.failures["vacuumed_read" if _is_vacuumed_read(detail) else "http_error"] += 1
            continue
        seen = [s for s, t in commits if t <= sent]
        lo = seen[-1] if seen else commits[0][0]
        done = [s for s, t in commits if t <= sent + lat_ms / 1000.0]
        hi = min(last, (done[-1] if done else lo) + 1)
        ok = [s for s in range(lo, hi + 1) if answers[str(s)][key] == detail]
        if ok:
            matched[ok[-1]] += 1
            good.append(lat_ms)
        elif any(answers[s][key] == detail for s in answers if int(s) < lo):
            b.failures["stale_snapshot"] += 1
        else:
            b.failures["wrong_answer"] += 1
    b.info[phase] = {
        "requests": len(results),
        "distinct_requests": len(keys),
        "repeat_share": round(1 - len(keys) / max(1, len(results)), 4),
        "responses_by_snapshot": dict(sorted(matched.items())),
        "window": [runs["start"], runs["end"]],
    }
    return good


def _server(b: Bench):
    from openmrs_module_mamba_etl_spark.inventory.report_queries import REPORTS
    from openmrs_module_mamba_etl_spark.plans.report_server import ReportServer

    return ReportServer(b.spark, REPORTS).start()


def _run_scheduler(b: Bench, sched) -> None:
    from_failures = sched.failures
    sched.run(max_ticks=1)
    b.attempted += 1
    b.failures["failed_tick"] += sched.failures - from_failures


# --- workloads -------------------------------------------------------------


def etl_lane(b: Bench) -> Samples:
    """Untimed full refreshes to warm the code paths, then three phases:

    - full refreshes: through ``EtlScheduler(incremental=False)``, then
      the first tick of ``EtlScheduler(incremental=True)``, which is a full
      build by design;
    - ticks of the incremental scheduler, each over a new delta, while the
      report clients read the tables being republished;
    - a closed-loop report burst of ``seconds`` against the final, idle
      store.
    """
    from openmrs_module_mamba_etl_spark.streaming.scheduler import EtlScheduler

    src = os.path.join(b.work, "src")
    stage = os.path.join(b.work, "deltas")
    made = child(b, "gen.py", "sources", src, stage, "--seed", str(b.seed),
                 "--deltas", str(LOADED_TICKS))
    b.info.update(made)
    lane = Lane(b, src, stage, os.path.join(b.work, "store"))
    requests = request_list(b.seed, made["deltas"][-1]["max_user_id"])
    if b.inject_bad_request:
        requests[0] = BAD_REQUEST
    if not b.smoke:
        warm = Lane(b, src, stage, os.path.join(b.work, "warm_store"), Tracer())
        for _ in range(WARM_REFRESHES):
            with b.tracer.span("warm_up"):
                warm.run_once(False)
    server = _server(b)
    try:
        full = EtlScheduler(lane.run_once, interval_seconds=0,
                            incremental=False, on_error="continue")
        inc = EtlScheduler(lane.run_once, interval_seconds=0,
                           incremental=True, on_error="continue")
        for _ in range(FULL_REFRESHES - 1):
            _run_scheduler(b, full)
        _run_scheduler(b, inc)
        first = len(lane.commits) - 1
        proc = start_clients(b, server.url, requests)
        for _ in range(LOADED_TICKS):
            _run_scheduler(b, inc)
        loaded = stop_clients(proc)
        proc = start_clients(b, server.url, requests)
        time.sleep(b.seconds)
        idle = stop_clients(proc)
        if b.trace:
            direct_calls(b, src, requests)
    finally:
        server.stop()
    commits = lane.commits[first:]
    answers = child(b, "expected.py", stdin={"reports": {
        "src": src, "snapshots": list(range(commits[0][0], commits[-1][0] + 1)),
        "requests": issued(loaded, requests) + issued(idle, requests)}})
    b.info["loaded_ms"] = check_responses(b, loaded, answers, requests, commits, "loaded")
    latencies = check_responses(b, idle, answers, requests, commits[-1:], "idle")
    return Samples(b.tracer.walls("scheduler.full"), latencies,
                   len(latencies) / (idle["end"] - idle["start"]))


def llm_curation(b: Bench) -> Samples:
    """Untimed passes over a small slice of the corpus to warm the code
    paths (a cold pass takes ~2× a warm one; their rows are not kept, and
    an error ends the run), then repeated passes of the curation queries,
    each built and collected into pandas with the cache cleared before it.
    A pass's time is the sum of its queries'; it is a sample only when
    every query ran and returned the oracle's rows, which are checked
    outside its timing."""
    from openmrs_module_mamba_etl_spark import registry

    src = os.path.join(b.work, "docs")
    b.info.update(child(b, "gen.py", "documents", src, "--seed", str(b.seed)))
    want = child(b, "expected.py", stdin={"curation": {"src": src, "keys": CURATION_KEYS}})
    if not b.smoke:
        warm = os.path.join(b.work, "warm_docs")
        child(b, "gen.py", "documents", warm, "--seed", str(b.seed),
              "--documents", str(WARM_DOCUMENTS))
        registry.load_all()
        for _ in range(WARM_PASSES):
            with b.tracer.span("warm_up"):
                for key in CURATION_KEYS:
                    b.spark.catalog.clearCache()
                    registry.QUERIES[key](b.spark, warm).toPandas()
        b.spark.catalog.clearCache()
    t0 = time.monotonic()
    passes: list[list[float] | None] = []
    cached_after: list[int] = []
    while len(passes) < (1 if b.smoke else MIN_PASSES) or time.monotonic() - t0 < b.seconds:
        passes.append(_curation_pass(b, src, want, b.tracer))
        b.spark.catalog.clearCache()
        cached_after.append(b.spark.sparkContext._jsc.sc().getPersistentRDDs().size())
    b.info["cached_after"] = cached_after
    good = [p for p in passes if p is not None]
    b.info["pass_query_ms"] = good
    per_query = [ms for p in good for ms in p]
    batch = [sum(p) / 1000.0 for p in good]
    return Samples(batch, per_query, len(per_query) / sum(batch) if batch else 0.0)


def _curation_pass(b: Bench, src: str, want: dict, tr: Tracer) -> list[float] | None:
    """Build and drain each curation query; returns their wall times (ms),
    or None when any of them failed or returned wrong rows."""
    from openmrs_module_mamba_etl_spark import registry

    registry.load_all()
    times = []
    for key in CURATION_KEYS:
        b.spark.catalog.clearCache()
        start = time.perf_counter()
        b.attempted += 1
        try:
            with tr.span(f"dedup.{key}.build"):
                df = registry.QUERIES[key](b.spark, src)
            with tr.span(f"dedup.{key}.run"):
                pdf = df.toPandas()
        except Exception as e:  # noqa: BLE001 — counted, not retried
            b.failures["query_exception"] += 1
            b.info.setdefault("errors", []).append(f"{key}: {e}"[:300])
            times = None
            continue
        elapsed = (time.perf_counter() - start) * 1000.0
        got = expected.digest(list(pdf.columns), pdf.itertuples(index=False))
        if got != want[key]:
            b.failures["wrong_answer"] += 1
            b.info.setdefault("errors", []).append(f"{key}: rows differ from oracle")
            times = None
        elif times is not None:
            times.append(elapsed)
    return times


WORKLOADS = {"etl_lane": etl_lane, "llm_curation": llm_curation}


# --- traced direct calls ------------------------------------------------


def direct_calls(b: Bench, src: str, requests: list) -> None:
    """Traced runs only: call single layers directly from this thread."""
    from openmrs_module_mamba_etl_spark.functions.dialect import translate_mysql
    from openmrs_module_mamba_etl_spark.inventory.report_queries import REPORTS
    from openmrs_module_mamba_etl_spark.operators.flatten import (
        EVENTS_AS_OBS_SPEC,
        discover_attrs,
        flatten,
    )
    from openmrs_module_mamba_etl_spark.sources.parquet import table

    tr = b.tracer
    ev = table(b.spark, src, "events")
    for _ in range(3):
        with tr.span("flatten.discover_attrs"):
            attrs = discover_attrs(ev, EVENTS_AS_OBS_SPEC)
        with tr.span("flatten.flatten"):
            flatten(ev, EVENTS_AS_OBS_SPEC, attrs=attrs).write.format("noop").mode(
                "overwrite").save()
    sqls = [REPORTS.get(rid).sql_query for rid in REPORTS.ids()]
    n = 200
    start = time.perf_counter()
    for _ in range(n):
        for sql in sqls:
            translate_mysql(sql)
    b.info["translate_mysql_us"] = (time.perf_counter() - start) / (n * len(sqls)) * 1e6
    distinct = {expected.request_key(rid, params): (rid, params) for rid, params in requests}
    for rid, params in list(distinct.values())[:12]:
        with tr.span("reports.run"):
            REPORTS.run(b.spark, rid, **params)
        with tr.span("reports.run_json"):
            REPORTS.run_json(b.spark, rid, **params)
