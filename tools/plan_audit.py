"""Physical-plan audit across the whole query registry (SURVEY §4.1).

Prints one row per registry query: real Exchange-node count (formatted
plans repeat node names in the detail section — count `(\\d+) Exchange`
headers, NOT substring hits, which read 0/double), python-eval node
counts, broadcast/SMJ joins, scans, and `expr_chars`, the length of
the optimized logical plan's string (a proxy for the expression-tree
size that Catalyst and codegen walk). Run it whenever a plan-shaping
change lands:

    python tools/plan_audit.py [sf_dir]

The CI twin is tests/test_plan_registry.py, which pins the global
invariants (no row-at-a-time python nodes outside the UDTF surface).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from geopy_spark.entry_queries import QUERIES  # noqa: E402
from geopy_spark.plans.explain import plan_text  # noqa: E402
from geopy_spark.session import get_spark  # noqa: E402


def exchange_count(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def audit(spark, sf_dir: str) -> list[dict]:
    out = []
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        p = plan_text(df)
        out.append({
            "query": name,
            "exchanges": exchange_count(p),
            "arrow_py": p.count("ArrowEvalPython") // 2,
            "map_in_pandas": (p.count("MapInPandas")
                              + p.count("FlatMapGroupsInPandas")) // 2,
            "row_py": p.count("BatchEvalPython") // 2,
            "bhj": p.count("BroadcastHashJoin") // 2,
            "smj": p.count("SortMergeJoin") // 2,
            "scans": p.count("Scan parquet") // 2,
            "expr_chars": len(
                df._jdf.queryExecution().optimizedPlan().toString()),
        })
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = audit(spark, sf_dir)
    hdr = list(rows[0].keys())
    print(" ".join(f"{h:>13s}" if h != "query" else f"{h:26s}" for h in hdr))
    for r in rows:
        print(f"{r['query']:26s} " + " ".join(
            f"{r[h]!s:>13s}" for h in hdr[1:]))
    spark.stop()


if __name__ == "__main__":
    main()
