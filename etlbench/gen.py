"""The benchmark's inputs, built from the sf0.1 tables in ``etlbench/data``.

- ETL sources: ``events`` and ``orders`` are multiplied K× with
  ``tools/scale_stress.py``'s replica scheme (replica ``i`` shifts
  ``event_id``, ``user_id`` and ``o_orderkey`` by ``i × 10**12``, so each
  replica adds its own users at sf0.1's per-user event volume and a
  refresh does K× the work, not K× the dispatch). ``customer``,
  ``nation`` and ``region`` stay 1×. The fact tables are written as
  directories (``events.parquet/part-*.parquet``), so a delta is one more
  part file, which the engine's parquet source reads with the rest.
- Deltas, drawn from ``--seed``: each touches a stated share of the users
  known so far, most of them existing users (new events change their wide
  row), the rest new users (inserts); event and order attributes are
  resampled from sf0.1's rows, timestamps follow every earlier event.
- Documents: a seeded rewrite of the 1000-document sf0.1 subset
  (see ``vendor.py``): every document's words are shuffled and mapped
  through a seeded, length-preserving permutation of the vocabulary.
  Token sets map one to one, so near-duplicate pairs, clusters and
  character counts are those of sf0.1; the text, shingles and word
  order differ per seed.

The base corpus is the same for every seed; the seed draws the deltas,
the report requests (``workloads.request_list``) and the document rewrite.
Smoke inputs (:data:`SMOKE`) keep the sf0.1 rows below small key bounds:
about sf0.001's size.

Run as a child process of ``run.py`` so the tables never sit in the
measured process::

    python3 etlbench/gen.py sources <dst> <stage> --seed N --deltas D [--smoke]
    python3 etlbench/gen.py documents <dst> --seed N [--documents N] [--smoke]

Each prints one JSON line describing what it wrote.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
#: ``tools/scale_stress.py``'s id shift between replicas
OFFSET = 10**12
_US_PER_DAY = 86_400_000_000


@dataclass(frozen=True)
class Sizes:
    """How the corpus is built from sf0.1."""

    k: int = 4
    #: keep only users / customers below these keys (0 keeps all)
    user_limit: int = 0
    customer_limit: int = 0
    documents: int = 1000
    #: share of the users known so far a delta touches, and the part of
    #: those that are new users (inserts) rather than existing ones
    delta_user_share: float = 0.01
    delta_new_share: float = 0.2
    delta_events_per_user: int = 5
    #: new orders per delta, as a share of the orders
    delta_order_share: float = 0.005


#: about sf0.001: 980 events over 15 users, 1573 orders of 150 customers
SMOKE = Sizes(k=1, user_limit=15, customer_limit=150, documents=60,
              delta_user_share=0.2)


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def _below(t: pa.Table, col: str, limit: int) -> pa.Table:
    return t.filter(pc.less(t[col], limit)) if limit else t


def base_events(sizes: Sizes) -> pa.Table:
    return _below(_read("events"), "user_id", sizes.user_limit)


def base_orders(sizes: Sizes) -> pa.Table:
    return _below(_read("orders"), "o_custkey", sizes.customer_limit)


def _shift(t: pa.Table, cols: list[str], by: int) -> pa.Table:
    for c in cols:
        t = t.set_column(t.schema.get_field_index(c), c, pc.add(t[c], by))
    return t


def _replicate(t: pa.Table, cols: list[str], k: int) -> pa.Table:
    return pa.concat_tables([_shift(t, cols, i * OFFSET) if i else t for i in range(k)])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_sources(dst: str, sizes: Sizes) -> dict:
    """Write the K× ETL source tables under ``dst`` (an sf-style directory)."""
    for t in ("region", "nation"):
        _write(_read(t), os.path.join(dst, f"{t}.parquet"))
    customer = _below(_read("customer"), "c_custkey", sizes.customer_limit)
    _write(customer, os.path.join(dst, "customer.parquet"))
    orders = _replicate(base_orders(sizes), ["o_orderkey"], sizes.k)
    _write(orders, os.path.join(dst, "orders.parquet", "part-00000.parquet"))
    events = _replicate(base_events(sizes), ["event_id", "user_id"], sizes.k)
    _write(events, os.path.join(dst, "events.parquet", "part-00000.parquet"))
    return {"customer": customer.num_rows, "orders": orders.num_rows,
            "events": events.num_rows,
            "users": len(pc.unique(events["user_id"]))}


def write_deltas(stage: str, seed: int, sizes: Sizes, count: int) -> list[dict]:
    """Write ``count`` successive deltas under ``stage/<i>/`` (landed by
    ``workloads.apply_delta``) and describe each."""
    rng = np.random.default_rng([seed, 2])
    ev = base_events(sizes)
    od = base_orders(sizes)
    users = np.unique(_replicate(ev, ["user_id"], sizes.k)["user_id"].to_numpy())
    next_user = int(pc.max(ev["user_id"]).as_py()) + 1
    next_event = int(pc.max(ev["event_id"]).as_py()) + 1
    next_order = int(pc.max(od["o_orderkey"]).as_py()) + 1
    start = pc.max(ev["ts"]).value + _US_PER_DAY
    out = []
    for i in range(count):
        touched = max(1, round(len(users) * sizes.delta_user_share))
        new = max(1, round(touched * sizes.delta_new_share))
        old = rng.choice(users, touched - new, replace=False)
        fresh = np.arange(next_user, next_user + new)
        ids = np.repeat(np.concatenate([old, fresh]), sizes.delta_events_per_user)
        rng.shuffle(ids)
        n = len(ids)
        # strictly increasing timestamps within a day: no (user, type)
        # pair ties on ts, so the flat table's latest-wins value is unique
        ts = start + np.cumsum(rng.integers(1, 2 * _US_PER_DAY // n, n))
        sample = ev.take(rng.integers(0, ev.num_rows, n))
        events = pa.table({
            "event_id": pa.array(np.arange(next_event, next_event + n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), ev.schema.field("ts").type),
            "user_id": pa.array(ids, pa.int64()),
            "event_type": sample["event_type"],
            "value": sample["value"],
            "props": sample["props"],
        })
        n_orders = max(1, round(od.num_rows * sizes.k * sizes.delta_order_share))
        orders = od.take(rng.integers(0, od.num_rows, n_orders))
        orders = orders.set_column(0, "o_orderkey", pa.array(
            np.arange(next_order, next_order + n_orders), pa.int64()))
        _write(events, os.path.join(stage, str(i), "events.parquet"))
        _write(orders, os.path.join(stage, str(i), "orders.parquet"))
        out.append({"events": n, "orders": n_orders,
                    "updated_users": len(old), "new_users": new,
                    "max_user_id": int(fresh[-1])})
        users = np.concatenate([users, fresh])
        next_user += new
        next_event += n
        next_order += n_orders
        start = int(ts[-1]) + _US_PER_DAY
    return out


def write_documents(dst: str, seed: int, n: int) -> dict:
    """The curation corpus: the first ``n`` sf0.1-subset documents, each
    rewritten by a seeded word shuffle and a seeded, length-preserving
    vocabulary permutation."""
    docs = _read("documents").slice(0, n)
    texts = [t.split(" ") for t in docs["text"].to_pylist()]
    rng = np.random.default_rng([seed, 3])
    vocab = sorted({w for words in texts for w in words})
    mapping = {}
    for length in sorted({len(w) for w in vocab}):
        group = [w for w in vocab if len(w) == length]
        mapping.update(zip(group, rng.permutation(group)))
    rewritten = []
    for words in texts:
        words = [str(mapping[w]) for w in words]
        rng.shuffle(words)
        rewritten.append(" ".join(words))
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(rewritten))
    _write(docs, os.path.join(dst, "documents.parquet"))
    return {"documents": docs.num_rows, "vocabulary": len(vocab)}


def digest(root: str) -> str:
    """Digest of the rows of every parquet file under ``root`` (file bytes
    also carry writer metadata; rows do not). Meant for small corpora."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".parquet"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                h.update(repr(pq.read_table(path).to_pylist()).encode())
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description="Write the benchmark's inputs.")
    ap.add_argument("what", choices=("sources", "documents"))
    ap.add_argument("dst")
    ap.add_argument("stage", nargs="?")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--deltas", type=int, default=0)
    ap.add_argument("--documents", type=int, default=0,
                    help="write only the first N documents (0: the corpus size)")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    sizes = SMOKE if args.smoke else Sizes()
    if args.what == "sources":
        out = {"rows": write_sources(args.dst, sizes),
               "deltas": write_deltas(args.stage, args.seed, sizes, args.deltas)}
    else:
        out = {"rows": write_documents(args.dst, args.seed,
                                       args.documents or sizes.documents)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
