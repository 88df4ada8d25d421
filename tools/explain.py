"""Print the executed plan of registered queries.

Usage: python tools/explain.py <name substring> [sf_dir]

For each matching ``queries()`` entry, prints the formatted plan plus a
one-line summary of the scale-relevant facts (exchanges, joins, scans) —
the manual companion to the automated gates in tests/test_plans.py.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from flink_realtime_datawarehouse_v3_spark import api  # noqa: E402
from flink_realtime_datawarehouse_v3_spark.session import get_spark  # noqa: E402


def main() -> None:
    pat = sys.argv[1] if len(sys.argv) > 1 else ""
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    spark = get_spark("explain")
    for name, fn in api.QUERIES.items():
        if pat not in name or name.startswith("streaming_"):
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"\n{'=' * 78}\n{name}\n{'=' * 78}")
        print(
            "summary:",
            f"hash-exchanges={len(re.findall(r'Exchange hashpartitioning', plan))}",
            f"broadcasts={len(re.findall('BroadcastHashJoin', plan))}",
            f"SMJ={len(re.findall('SortMergeJoin', plan))}",
            f"sorts={len(re.findall(r'Sort ', plan))}",
            f"scans={len(re.findall('FileScan', plan))}",
        )
        df.explain("formatted")


if __name__ == "__main__":
    main()
