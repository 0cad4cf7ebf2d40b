"""Expected answers, computed with DuckDB over the generated source files.

Reports are answered per committed source snapshot (the base corpus plus
the first ``s`` deltas). Curation queries are answered by their registered
``registry.ORACLE`` SQL, except ``dedup_clusters``: its oracle is a
recursive CTE that needs ~20 s at 1000 documents, so its answer is the
connected components (min id as cluster id) of the pair set its own
oracle's ``pairs`` step defines — the rows of ``dedup_token_jaccard``'s
oracle, the same 0.9-Jaccard relation — closed in Python.

Answers are compared as canonical row digests: columns in name order,
floats rounded to 6 places, rows sorted.

Run as a child process of ``run.py``, so DuckDB's memory never counts
in the measured process: one JSON request on stdin, one JSON answer on
stdout::

    {"reports": {"src": ..., "snapshots": [0, 1], "requests": [[id, {params}], ...]}}
    {"curation": {"src": ..., "keys": [...]}}
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import sys

#: the flat table's report column: each user's latest purchase value
FLAT_SQL = """
    CREATE OR REPLACE TEMP TABLE flat AS
    SELECT user_id,
           arg_max(value, ts) FILTER (WHERE event_type = 'purchase') AS purchase
    FROM events GROUP BY user_id
"""

#: report id → DuckDB SQL over the source tables; ``$segment`` and
#: ``$max_user_id`` bind the report's declared parameters.
REPORT_SQL = {
    "latest_purchase_by_user": """
        SELECT f.user_id, f.purchase AS latest_purchase_value,
               c.c_mktsegment AS segment
        FROM flat f JOIN customer c ON f.user_id = c.c_custkey
        WHERE c.c_mktsegment = $segment AND f.user_id <= $max_user_id
    """,
    "total_orders_1997": """
        SELECT COUNT(*) AS total_orders_1997
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
          AND CAST(o.o_orderdate AS DATE) <  DATE '1998-01-01'
    """,
    "distinct_buyers_window": """
        SELECT COUNT(DISTINCT o.o_custkey) AS total_buyers
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                                AND TIMESTAMP '1997-12-31 00:00:00'
          AND c.c_mktsegment = 'MACHINERY'
    """,
}


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6) + 0.0
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    if isinstance(v, (int, str, bool)):
        return v
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Canonical digest of a result: order-free in rows and columns."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        (json.dumps([_cell(r[i]) for i in order]) for r in rows)
    )
    h = hashlib.sha256(json.dumps(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


#: output columns of each report, as the registered report SQL names them
REPORT_COLUMNS = {
    "latest_purchase_by_user": ["user_id", "latest_purchase_value", "segment"],
    "total_orders_1997": ["total_orders_1997"],
    "distinct_buyers_window": ["total_buyers"],
}


def json_digest(report_id: str, results: list[dict]) -> str:
    """Digest of an HTTP report body's ``results`` (Spark's JSON rows omit
    null fields, so missing keys read as null)."""
    cols = REPORT_COLUMNS[report_id]
    return digest(cols, [[r.get(c) for c in cols] for r in results])


def _connect(threads: int):
    import duckdb

    con = duckdb.connect(config={
        "threads": threads,
        "autoinstall_known_extensions": False,
        "temp_directory": os.path.join(os.environ.get("TMPDIR", "."), "duckdb"),
    })
    return con


def _files(src: str, table: str, parts: int | None = None) -> list[str]:
    files = sorted(glob.glob(os.path.join(src, f"{table}.parquet", "*.parquet")))
    return files if parts is None else files[:parts]


def _scan(paths: list[str]) -> str:
    """``read_parquet`` over literal paths (views cannot take parameters)."""
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    return f"read_parquet([{quoted}])"


def request_key(report_id: str, params: dict) -> str:
    """One distinct report request, as a JSON object key."""
    return json.dumps([report_id, sorted(params.items())])


def report_answers(src: str, snapshots, requests: list[tuple[str, dict]],
                   threads: int) -> dict[str, dict[str, str]]:
    """For each snapshot s (base corpus + first s deltas), the digest of
    every distinct request's expected answer, by :func:`request_key`."""
    distinct = {request_key(rid, p): (rid, p) for rid, p in requests}
    con = _connect(threads)
    con.execute("CREATE VIEW customer AS SELECT * FROM "
                + _scan([os.path.join(src, "customer.parquet")]))
    out = {}
    for s in snapshots:
        for t in ("events", "orders"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                        + _scan(_files(src, t, s + 1)))
        con.execute(FLAT_SQL)
        answers = {}
        for key, (rid, params) in sorted(distinct.items()):
            sql = REPORT_SQL[rid]
            cur = con.execute(sql, params) if params else con.execute(sql)
            cols = [d[0] for d in cur.description]
            if cols != REPORT_COLUMNS[rid]:
                raise RuntimeError(f"{rid}: oracle columns {cols}")
            answers[key] = digest(cols, cur.fetchall())
        out[str(s)] = answers
    con.close()
    return out


def curation_answers(src: str, keys: list[str], threads: int) -> dict[str, str]:
    """Digest of each curation query's oracle answer over ``documents``."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from openmrs_module_mamba_etl_spark import registry

    registry.load_all()
    con = _connect(threads)
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                + _scan([os.path.join(src, "documents.parquet")]))
    out, rows = {}, {}
    for key in keys:
        if key == "dedup_clusters":
            continue
        cur = con.execute(registry.ORACLE[key])
        rows[key] = cur.fetchall()
        out[key] = digest([d[0] for d in cur.description], rows[key])
    con.close()
    if "dedup_clusters" in keys:
        # its oracle's pairs are dedup_token_jaccard's oracle rows
        out["dedup_clusters"] = _clusters(
            (a, b) for a, b, _ in rows["dedup_token_jaccard"])
    return out


def _clusters(pairs) -> str:
    """Connected components of a pair set, min id as the cluster id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(node, find(node)) for node in parent]
    return digest(["doc_id", "cluster_id"], rows)


def main() -> None:
    req = json.loads(sys.stdin.readline())
    threads = os.cpu_count() or 1
    if "reports" in req:
        r = req["reports"]
        out = report_answers(r["src"], r["snapshots"], r["requests"], threads)
    else:
        c = req["curation"]
        out = curation_answers(c["src"], c["keys"], threads)
    json.dump(out, sys.stdout)


if __name__ == "__main__":
    main()
