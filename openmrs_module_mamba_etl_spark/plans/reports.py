"""Parameterized report service — the REST report surface, Spark-side.

The reference serves reports over HTTP (reference: README.md:277-283
``GET .../mamba/report?report_id=...``): look up the id in reports.json,
bind named+typed params (reference: README.md:297-307), run the SQL against
the analysis DB. Here: look up the id in the same JSON shape, validate and
bind params through Spark's parameterized SQL (injection-safe — values never
enter the query text), translate the MySQL dialect, and return a DataFrame
the caller serializes (``to_json`` mirrors the REST response shape).

Answer cache. Served tables change only when the ETL publishes, so
``run_json`` keeps a bounded LRU of JSON answers (``CACHE_MAX_BYTES``,
``CACHE_MAX_ENTRIES``) and answers a repeated request without a Spark job:

- *key*: the report's optimized logical plan (its ``semanticHash``; a hit
  is confirmed with ``sameResult`` against the plan kept in the entry),
  the plan's input-file listing (``inputFiles()``) and the session's JSON
  settings (time zone, null-field handling). The optimizer has already
  folded ``current_date()``/``now()``/``current_user()`` into literals, so
  a ``current_date()`` report stays exact across midnight and a
  ``current_timestamp()`` report never hits;
- *eligibility*: the plan is deterministic and every leaf is a
  file-backed ``HadoopFsRelation`` or a ``LocalRelation``. Anything else
  (a JDBC view, a ``LogicalRDD``, a V2 relation, ``rand()``) bypasses the
  cache;
- *invalidation* follows from the key: a versioned publish points each
  served view at a new txnlog version directory, and a ``versioned=False``
  swap writes new Spark part-file names, so the plan or the listing
  changes. The one assumption is that published files are never
  rewritten in place, which holds for txnlog versions and Spark part
  files.

Entries always hold a complete answer, and ``max_rows`` is re-applied on
every hit, so a cached answer never bypasses the cap.
"""

from __future__ import annotations

import re
import threading
from collections import OrderedDict
from dataclasses import dataclass, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from openmrs_module_mamba_etl_spark.functions.dialect import translate_mysql
from openmrs_module_mamba_etl_spark.sources.config import (
    ReportDefinition,
    load_report_definitions,
)

_INT_TYPES = re.compile(r"^(INT|INTEGER|BIGINT|SMALLINT|TINYINT)", re.IGNORECASE)
_FLOAT_TYPES = re.compile(r"^(FLOAT|DOUBLE|DECIMAL|NUMERIC|REAL)", re.IGNORECASE)

#: bounds of each registry's answer cache: total UTF-8 bytes of the cached
#: JSON answers, and number of answers
CACHE_MAX_BYTES = 32 << 20
CACHE_MAX_ENTRIES = 512

#: plan leaves whose answer is a function of the plan and its file listing
_STABLE_LEAVES = {
    "org.apache.spark.sql.catalyst.plans.logical.LocalRelation",
    "org.apache.spark.sql.execution.datasources.HadoopFsRelation",
}
#: session settings that change a plan's JSON but not the plan
_JSON_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.jsonGenerator.ignoreNullFields",
)


@dataclass(frozen=True)
class ReportAnswer:
    """A report's JSON array, its row count, and how the cache served it:
    ``hit``, ``miss`` (ran and cached) or ``bypass`` (ran, not cacheable)."""

    json: str
    rows: int
    cache: str


def _leaf_class(leaf) -> str:
    name = leaf.getClass().getName()
    if name.endswith(".LogicalRelation"):
        return leaf.relation().getClass().getName()
    return name


def _cache_key(spark: SparkSession, df: DataFrame):
    """``(key, optimized plan)`` for a cacheable report, else None. Plans
    and lists files only; launches no Spark job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if not plan.deterministic():
        return None
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        if _leaf_class(leaves.next()) not in _STABLE_LEAVES:
            return None
    files = tuple(sorted(df.inputFiles()))
    confs = tuple(spark.conf.get(k) for k in _JSON_CONFS)
    return (plan.semanticHash(), files, confs), plan


class _AnswerCache:
    """Thread-safe LRU of complete JSON answers. The lock guards only the
    map; it is never held across Spark work."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        # key → (optimized plan, answer, its UTF-8 bytes)
        self._entries: OrderedDict[tuple, tuple[Any, ReportAnswer, int]] = OrderedDict()
        self.nbytes = 0

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key: tuple, plan) -> ReportAnswer | None:
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self._entries.move_to_end(key)
        # a hash match alone is never trusted
        if entry is None or not entry[0].sameResult(plan):
            return None
        return entry[1]

    def put(self, key: tuple, plan, answer: ReportAnswer) -> None:
        size = len(answer.json.encode())
        if size > CACHE_MAX_BYTES:
            return
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self.nbytes -= old[2]
            self._entries[key] = (plan, replace(answer, cache="hit"), size)
            self.nbytes += size
            while self.nbytes > CACHE_MAX_BYTES or len(self._entries) > CACHE_MAX_ENTRIES:
                self.nbytes -= self._entries.popitem(last=False)[1][2]


def _check_cap(report_id: str, rows: int, max_rows: int) -> None:
    if rows > max_rows:
        raise ValueError(
            f"report {report_id!r} exceeds max_rows={max_rows}; "
            "narrow the report query or raise the cap"
        )


class ReportRegistry:
    """report_id → definition, with typed parameter binding."""

    def __init__(self, definitions: list[ReportDefinition] | None = None):
        self._defs: dict[str, ReportDefinition] = {}
        self._cache = _AnswerCache()
        for d in definitions or []:
            self.add(d)

    @classmethod
    def from_json(cls, path: str) -> "ReportRegistry":
        return cls(load_report_definitions(path))

    def add(self, definition: ReportDefinition) -> None:
        self._defs[definition.report_id] = definition

    def ids(self) -> list[str]:
        return sorted(self._defs)

    def get(self, report_id: str) -> ReportDefinition:
        try:
            return self._defs[report_id]
        except KeyError:
            raise KeyError(
                f"unknown report_id {report_id!r}; known: {self.ids()}"
            ) from None

    @staticmethod
    def _coerce(value: Any, sql_type: str) -> Any:
        """Coerce a request-string param to its declared SQL type
        (reference type surface: VARCHAR(255)/INT/... — README.md:300-306)."""
        if value is None:
            return None
        if _INT_TYPES.match(sql_type):
            return int(value)
        if _FLOAT_TYPES.match(sql_type):
            return float(value)
        return str(value)

    def run(self, spark: SparkSession, report_id: str, **params: Any) -> DataFrame:
        """Execute a report with named-parameter binding.

        Missing or extra parameters raise before any Spark job starts,
        mirroring the reference's declared-params contract.
        """
        d = self.get(report_id)
        declared = {p.name: p.type for p in d.query_params}
        missing = sorted(set(declared) - set(params))
        extra = sorted(set(params) - set(declared))
        if missing:
            raise ValueError(f"report {report_id!r} missing params: {missing}")
        if extra:
            raise ValueError(f"report {report_id!r} got undeclared params: {extra}")
        bound = {k: self._coerce(v, declared[k]) for k, v in params.items()}
        sql = translate_mysql(d.sql_query)
        return spark.sql(sql, args=bound) if bound else spark.sql(sql)

    def run_json(
        self,
        spark: SparkSession,
        report_id: str,
        max_rows: int = 10_000,
        **params: Any,
    ) -> str:
        """REST-response analog: the report result as a JSON array string
        (see :meth:`answer`)."""
        return self.answer(spark, report_id, max_rows, **params).json

    def answer(
        self,
        spark: SparkSession,
        report_id: str,
        max_rows: int = 10_000,
        **params: Any,
    ) -> ReportAnswer:
        """The report result as a JSON array, served from the answer cache
        when it can be (module docstring).

        Reference reports are bounded lists (indicator tables, line lists);
        a runaway report SQL must not materialize an unbounded result on
        the driver. A miss drains ``to_json(struct(*))`` rows through one
        ``limit(max_rows + 1).collect()`` — rows are byte-identical to
        ``DataFrame.toJSON`` — and the response is capped at ``max_rows``:
        overflow raises, which the HTTP layer maps to a 400. A negative or
        non-integer ``max_rows`` raises before any Spark job.
        """
        if isinstance(max_rows, bool) or not isinstance(max_rows, int) or max_rows < 0:
            raise ValueError(
                f"max_rows must be a non-negative integer, got {max_rows!r}"
            )
        df = self.run(spark, report_id, **params)
        keyed = _cache_key(spark, df)
        if keyed is not None:
            hit = self._cache.get(*keyed)
            if hit is not None:
                _check_cap(report_id, hit.rows, max_rows)
                return hit
        rows = [
            r[0]
            for r in df.select(F.to_json(F.struct("*")))
            .limit(max_rows + 1)
            .collect()
        ]
        _check_cap(report_id, len(rows), max_rows)
        answer = ReportAnswer(
            "[" + ",".join(rows) + "]", len(rows), "bypass" if keyed is None else "miss"
        )
        if keyed is not None:
            self._cache.put(*keyed, answer)
        return answer
