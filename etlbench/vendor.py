"""Copy the benchmark's base inputs out of an sf0.1 test-data directory.

The benchmark reads nothing outside its own directory, so the sf0.1
tables it builds on are kept in ``etlbench/data/``. This script wrote
them::

    python3 etlbench/vendor.py <sf0.1 directory>

- ``customer``, ``nation``, ``region``, ``orders`` and ``events`` are
  copied row for row (re-encoded with zstd).
- ``documents`` is a 1000-document subset of the 5000 that keeps the
  corpus's near-duplicate density: 50 near-duplicates (5 %, as in the
  full corpus: a document whose text is another's plus `` dup``), the 50
  documents they copy, and the lowest-id other documents up to 1000 —
  none of them a near-duplicate whose original is left out. Ids are
  renumbered 0-999 in their original order.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
TABLES = ["customer", "nation", "region", "orders", "events"]
DOCUMENTS = 1000
DUPS = DOCUMENTS // 20


def write(table: pa.Table, name: str) -> None:
    pq.write_table(table.replace_schema_metadata(None),
                   os.path.join(DATA, f"{name}.parquet"),
                   compression="zstd", compression_level=19)


def document_subset(docs: pa.Table) -> pa.Table:
    ids = docs["doc_id"].to_pylist()
    texts = docs["text"].to_pylist()
    by_text = {}
    for i, t in zip(ids, texts):
        by_text.setdefault(t, i)
    original = {i: by_text.get(t[:-4]) for i, t in zip(ids, texts) if t.endswith(" dup")}
    chosen: set[int] = set()
    for dup, src in sorted(original.items()):
        if src is None or src in original:
            continue
        chosen.update((dup, src))
        if len(chosen) == 2 * DUPS:
            break
    for i in ids:
        if len(chosen) == DOCUMENTS:
            break
        if i not in original:
            chosen.add(i)
    keep = docs.filter(pc.is_in(docs["doc_id"], pa.array(sorted(chosen), pa.int64())))
    keep = keep.sort_by("doc_id")
    return keep.set_column(0, "doc_id", pa.array(range(keep.num_rows), pa.int64()))


def main(src: str) -> None:
    os.makedirs(DATA, exist_ok=True)
    for t in TABLES:
        write(pq.read_table(os.path.join(src, f"{t}.parquet")), t)
    write(document_subset(pq.read_table(os.path.join(src, "documents.parquet"))),
          "documents")


if __name__ == "__main__":
    main(sys.argv[1])
