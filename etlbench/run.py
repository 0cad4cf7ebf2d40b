"""Refresh → tick → serve benchmark for the MambaETL engine.

Run from the root of a checkout::

    python3 etlbench/run.py --workload etl_lane --seed 1 --seconds 20 --trace 0

Workloads (see etlbench/NOTES.md): ``etl_lane`` and ``llm_curation``. The
run starts and warms the Spark session (``setup_s``, from process start),
builds its inputs from the sf0.1 tables in ``etlbench/data`` and
``--seed``, warms the workload's code paths with untimed batches,
measures the workload for about ``--seconds``, checks every output
against DuckDB, and prints one JSON object as the last line of standard
output. With ``--trace 0`` it carries the end-to-end metrics; with
``--trace 1`` the run records an uncompressed Spark event log, tags every
job the benchmark submits with the span that caused it, carries the
per-layer metrics, and writes the spans and per-group task metrics to
``etlbench/_work/spans-<workload>.json``. ``--smoke`` runs on
sf0.001-sized inputs with no warm-up, to check the benchmark itself, not
to time the engine; ``--inject-bad-request`` makes one report request
fail on purpose, for the benchmark's own tests. The exit code is 0 only
when no operation failed. Everything else the run writes stays under
``etlbench/_work/<workload>-<pid>/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import tempfile
import time
import traceback
from dataclasses import asdict
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from spans import UNGROUPED, Tracer, reduce_event_log, total  # noqa: E402

HEAP = "3g"


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def since_process_start() -> float:
    """Seconds since this process started, from the kernel's record (10 ms
    resolution), so interpreter start and imports count too."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(work: str, event_log: str | None):
    from openmrs_module_mamba_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": HEAP,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="etlbench", master=f"local[{_cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory of this process and of the Spark JVM. Inputs
    are generated, and answers computed, in child processes that do not
    count; the JVM's heap grows from the default initial size as the
    engine needs."""
    from pyspark import SparkContext

    out = {"python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
           "jvm": 0.0}
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    out["jvm"] = int(line.split()[1]) / 1024.0
    return out


def _tree_bytes(path: str) -> int:
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += os.path.getsize(os.path.join(d, f))
    return n


def txnlog_layer(store: str) -> dict[str, float]:
    """Versions kept, bytes of the live snapshot and of the whole store,
    and data files per published table, over the analysis store."""
    from openmrs_module_mamba_etl_spark.sources.txnlog import VersionedParquetTable

    out = {"txnlog.versions": 0.0, "txnlog.live_bytes": 0.0,
           "txnlog.store_bytes": 0.0, "txnlog.files_per_publish": 0.0}
    if not os.path.isdir(store):
        return out
    tables = sorted(os.listdir(store))
    versions, files = [], []
    for name in tables:
        vt = VersionedParquetTable(os.path.join(store, name))
        versions.append(len(vt.versions()))
        # the manifest layout is documented in sources/txnlog.py
        manifest = os.path.join(store, name, "_txn", f"{vt.latest_version():05d}.json")
        with open(manifest) as f:
            dirs = json.load(f)["dirs"]
        for d in dirs:
            path = vt.data_dir(d)
            out["txnlog.live_bytes"] += _tree_bytes(str(path))
            files.append(sum(1 for f in os.listdir(path) if f.endswith(".parquet")))
    out["txnlog.versions"] = float(median(versions))
    out["txnlog.store_bytes"] = float(_tree_bytes(store))
    out["txnlog.files_per_publish"] = sum(files) / max(1, len(tables))
    return out


def _med(xs) -> float:
    return float(median(xs)) if xs else 0.0


def layer_metrics(b, groups, request_p50_ms) -> dict[str, float]:
    """Per-layer metrics from the spans and the reduced event log. Layers
    the workload does not use read 0."""
    tr = b.tracer

    def per_call(name: str, field: str) -> float:
        return _med([getattr(total(groups, [sid]), field) for sid in tr.ids(name)])

    out: dict[str, float] = {
        "session.get_spark_s": b.info["session"]["get_spark_s"],
        "session.first_job_s": b.info["session"]["first_job_s"],
    }
    out["pipeline.run.wall_s"] = _med(tr.walls("pipeline.run"))
    out["pipeline.run.jobs"] = per_call("pipeline.run", "jobs")
    out["pipeline.materialize.wall_s"] = _med(tr.walls("pipeline.materialize"))
    for f in ("jobs", "executor_run_s", "shuffle_write_bytes", "output_bytes",
              "task_wait_s"):
        out[f"pipeline.materialize.{f}"] = per_call("pipeline.materialize", f)
    out["flatten.discover_attrs.wall_s"] = _med(tr.walls("flatten.discover_attrs"))
    out["flatten.discover_attrs.jobs"] = per_call("flatten.discover_attrs", "jobs")
    out["flatten.flatten.wall_s"] = _med(tr.walls("flatten.flatten"))
    out["flatten.flatten.shuffle_write_bytes"] = per_call("flatten.flatten", "shuffle_write_bytes")
    out["flatten.flatten.spill_bytes"] = per_call("flatten.flatten", "spill_bytes")
    out.update(txnlog_layer(os.path.join(b.work, "store")))
    for kind in ("full", "tick"):
        name = f"scheduler.{kind}"
        runs = [total(groups, tr.subtree(sid)) for sid in tr.ids(name)]
        out[f"{name}.wall_s"] = _med(tr.walls(name))
        # equal jobs and bytes written for both kinds: a tick is a rebuild
        out[f"{name}.jobs"] = _med([m.jobs for m in runs])
        out[f"{name}.output_bytes"] = _med([m.output_bytes for m in runs])
    out["scheduler.failures"] = float(b.failures["failed_tick"])
    out["reports.run.wall_ms"] = _med(tr.walls("reports.run")) * 1000.0
    out["reports.run.jobs"] = per_call("reports.run", "jobs")
    out["reports.run_json.wall_ms"] = _med(tr.walls("reports.run_json")) * 1000.0
    out["reports.run_json.jobs"] = per_call("reports.run_json", "jobs")
    out["reports.run_json.tasks"] = per_call("reports.run_json", "tasks")
    out["dialect.translate_mysql.wall_us"] = b.info.get("translate_mysql_us", 0.0)
    out["report_server.transport_ms"] = (
        max(0.0, request_p50_ms - out["reports.run_json.wall_ms"])
        if tr.ids("reports.run_json") else 0.0)
    loaded = b.info.get("loaded_ms", [])
    out["report_server.loaded_p50_ms"] = _med(loaded)
    out["report_server.loaded_p80_ms"] = p80(loaded) if loaded else 0.0
    # handler threads submit their jobs outside any span; the clients'
    # windows tell the loaded phase's jobs from the idle burst's
    server = groups.get(UNGROUPED)
    for phase in ("loaded", "idle"):
        window = b.info.get(phase, {}).get("window")
        out[f"report_server.{phase}_queue_ms"] = _med([
            q for t, q in (server.job_queue_ms if server else [])
            if window and window[0] <= t <= window[1]])
    out["txnlog.vacuumed_reads"] = float(b.failures["vacuumed_read"])
    out["txnlog.stale_reads"] = float(b.failures["stale_snapshot"])
    for key in workloads.CURATION_KEYS:
        p = f"dedup.{key}"
        out[f"{p}.build_s"] = _med(tr.walls(f"{p}.build"))
        out[f"{p}.build_jobs"] = per_call(f"{p}.build", "jobs")
        out[f"{p}.run_s"] = _med(tr.walls(f"{p}.run"))
        out[f"{p}.run_jobs"] = per_call(f"{p}.run", "jobs")
        both = [total(groups, [a, c]) for a, c in
                zip(tr.ids(f"{p}.build"), tr.ids(f"{p}.run"))]
        out[f"{p}.executor_run_s"] = _med([m.executor_run_s for m in both])
        out[f"{p}.shuffle_write_bytes"] = _med([m.shuffle_write_bytes for m in both])
        out[f"{p}.spill_bytes"] = _med([m.spill_bytes for m in both])
    out["caching.cached_after"] = _med(b.info.get("cached_after", []))
    everything = total(groups, list(groups))
    out["spark.gc_s"] = everything.gc_s
    out["spark.failed_tasks"] = float(everything.failed_tasks)
    return out


#: metric name → unit
END_TO_END = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "request_p50_ms": "ms",
    "request_p80_ms": "ms",
    "requests_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_us", "us"), ("_s", "s"), ("_bytes", "B")):
        if name.endswith(suffix):
            return unit
    return "count"


def p80(xs: list[float]) -> float:
    """The 80th percentile: the highest that keeps ten requests beyond it
    when an idle burst completes only 60 requests (a slow 4-core box)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return quantiles(xs, n=5)[3]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001-sized inputs (the benchmark's own tests)")
    ap.add_argument("--inject-bad-request", action="store_true",
                    help="make one report request fail (the benchmark's own tests)")
    args = ap.parse_args()

    cpus = _cpus()
    # the engine's session module reads it when first imported: it sets
    # the shuffle partitions
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, ROOT)
    try:
        import openmrs_module_mamba_etl_spark  # noqa: F401
    except ImportError as e:
        log(f"the engine package is not importable from {ROOT}: {e}")
        return 2

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch", "eventlog"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM the session launches: no perf-data files outside the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["MAMBA_SCRATCH_DIR"] = os.path.join(work, "scratch")
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    spark = None
    try:
        start = time.monotonic()
        spark = start_session(work, os.path.join(work, "eventlog") if args.trace else None)
        started = time.monotonic()
        spark.range(1000).selectExpr("sum(id)").collect()
        setup_s = since_process_start()
        session = {
            "get_spark_s": started - start, "first_job_s": time.monotonic() - started,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        }
        tracer = Tracer(spark if args.trace else None)
        b = workloads.Bench(
            spark=spark, tracer=tracer, work=work, seed=args.seed,
            seconds=args.seconds, connections=max(1, cpus // 2),
            trace=bool(args.trace), smoke=args.smoke,
            inject_bad_request=args.inject_bad_request, info={"session": session})
        samples = workloads.WORKLOADS[args.workload](b)
        b.info["peak_rss_mb"] = rss = peak_rss_mb()
        e2e = {
            "setup_s": setup_s,
            "batch_p50_s": _med(samples.batch_s),
            "request_p50_ms": _med(samples.request_ms),
            "request_p80_ms": p80(samples.request_ms),
            "requests_per_s": samples.requests_per_s,
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
        app_id = spark.sparkContext.applicationId
        spark.stop()
        spark = None
        if args.trace:
            groups = reduce_event_log(os.path.join(work, "eventlog", app_id),
                                      time.monotonic() - time.time())
            metrics = layer_metrics(b, groups, e2e["request_p50_ms"])
            tracer.dump(os.path.join(HERE, "_work", f"spans-{args.workload}.json"),
                        {g: asdict(m) for g, m in groups.items()})
        else:
            metrics = e2e
        failed = sum(b.failures.values())
        log(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "warm_up_s": tracer.walls("warm_up"),
            "batch_samples_s": samples.batch_s,
            "requests": len(samples.request_ms), "end_to_end": e2e,
            "failures": dict(b.failures), "info": b.info,
        }, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": b.attempted,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": END_TO_END.get(k) or _unit(k)}
                for k, v in metrics.items()
            },
        }))
        return 0 if failed == 0 else 1
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_jvm()
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
