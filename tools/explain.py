#!/usr/bin/env python
"""Capture .explain("formatted") for benched queries into a plans directory.

Usage:
    SPARK_GRAFT_SF_DIR=<sf0.1 dir> python tools/explain.py --out plans/r11 before [query ...]
    SPARK_GRAFT_SF_DIR=<sf0.1 dir> python tools/explain.py --out plans/r11 after  [query ...]

With no query names, captures every BENCH_QUERIES entry into
``<out>/<query>_<suffix>.txt``.  Plans should be captured at sf0.1 (the
bench's scale) so join-strategy choices and exchange counts match what
the bench times.
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from elusion_spark.session import get_spark  # noqa: E402
from elusion_spark.suite import QUERIES  # noqa: E402



def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="plans directory to write")
    ap.add_argument("suffix", nargs="?", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf:
        ap.error("set SPARK_GRAFT_SF_DIR to the data directory to plan against")
    names = args.queries or [n for n in BENCH_QUERIES if n in QUERIES]
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark()
    for name in names:
        try:
            df = QUERIES[name](spark, sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {e}"
        with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok" if not plan.startswith("ERROR") else plan[:120])


if __name__ == "__main__":
    main()
