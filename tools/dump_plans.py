#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named queries into DIR.

Usage: python tools/dump_plans.py --out DIR SUFFIX name1 name2 ...
       (SUFFIX is `before` or `after`; writes DIR/<name>_<SUFFIX>.txt,
       e.g. --out plans/r14 as in the committed round plans)

Plans are captured at sf0.001 (plan shapes are scale-invariant; the
deliverable is the shape diff, not row counts).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("suffix", choices=("before", "after"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    from bigdatanycdiseasesurveillance_spark.registry import all_specs
    from bigdatanycdiseasesurveillance_spark.session import get_spark

    spark = get_spark("bdnds-plans")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    for name in args.names:
        df = specs[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


main()
