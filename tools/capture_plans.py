"""Capture `.explain("formatted")` for headline queries into
plans/<round>/<query>_<tag>.txt — an optimization round's before/after
plan evidence.

Usage: SPARK_GRAFT_SF_DIR=<sf dir> \
       python tools/capture_plans.py --round rNN <before|after> [query ...]
       (default: every HEADLINE query from bench.py)
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser(description="Capture formatted query plans.")
    ap.add_argument("--round", required=True, help="round tag rNN, e.g. r08")
    ap.add_argument("tag", nargs="?", default="before", help="before|after")
    ap.add_argument("queries", nargs="*", help="default: bench.py HEADLINE")
    args = ap.parse_args()
    if not re.fullmatch(r"r\d\d", args.round):
        ap.error(f"--round must look like rNN, got {args.round!r}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the scale-factor data dir to plan")

    from bench import HEADLINE
    from hadron_spark import get_spark
    from hadron_spark.queries import QUERIES

    names = args.queries or HEADLINE
    out_dir = os.path.join(ROOT, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(f"capture_plans_{args.round}")
    for name in names:
        spark.sparkContext.setJobDescription(f"plan:{name}")
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            plan = f"PLAN CAPTURE FAILED: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(f"-- {name} [{args.tag}] sf_dir={sf_dir}\n")
            f.write(plan)
        print(f"wrote {name}_{args.tag}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
