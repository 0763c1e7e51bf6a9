#!/usr/bin/env python
"""Dump `.explain("formatted")` for named registry queries to
plans/r13/<name>_<tag>.txt.

Usage:
    python scripts/capture_plans.py <tag> name [name...]

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
Large literal byte strings (binary LUTs) are elided so the dumps stay
reviewable.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Dump formatted plans of registry queries."
    )
    ap.add_argument("tag", help="suffix of the dump file names")
    ap.add_argument("names", nargs="+", help="registry query names")
    args = ap.parse_args(argv)

    from hive_apache_ci_spark import registry

    queries = registry.all_queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"unknown query name(s): {', '.join(unknown)}")

    from hive_apache_ci_spark.session import get_spark

    spark = get_spark("capture_plans")
    for name in args.names:
        df = queries[name](spark, SF_DIR)
        raw = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        raw = re.sub(r"0x[0-9A-Fa-f]{64,}", "0x<LUT-BYTES>", raw)
        path = os.path.join(REPO, "plans", "r13", f"{name}_{args.tag}.txt")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(raw)
        n_ex = len(re.findall(r"\bExchange\b", raw))
        n_scan = len(re.findall(r"Scan parquet", raw))
        n_join = re.findall(r"(\w*HashJoin\w*|SortMergeJoin|BroadcastNestedLoopJoin)", raw)
        print(f"{path}  Exchange={n_ex} parquet_scans={n_scan} joins={len(n_join)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
