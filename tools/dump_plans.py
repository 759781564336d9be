"""Dump .explain("formatted") for declared queries to plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/dump_plans.py --tag r07 --suffix before [--sf-dir DIR] q1 q2 ...

Run-varying ids (`#12`, `[id=3]`, `plan_id=7`, `RDD[42]`) are written with
`N` in place of the number, so a `diff -r` of two dumps is empty exactly
when the plans are the same.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_RUN_ID = re.compile(r"(#|\[id=#?|plan_id=|RDD\[)\d+")


def normalize(plan: str) -> str:
    return _RUN_ID.sub(r"\1N", plan)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r07")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from osm2garmin_spark.session import get_spark
    from osm2garmin_spark import queries as Q

    spark = get_spark("plans", master=f"local[{args.cores}]",
                      shuffle_partitions=args.cores)
    qs = Q.queries()
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    for name in args.names:
        df = qs[name](spark, args.sf_dir)
        plan = normalize(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
