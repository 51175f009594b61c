#!/usr/bin/env python
"""Capture/refresh the golden-plan snapshots.

Writes tests/goldens/plans/<query>.txt for every query in
dataextractor_spark.plans.golden.GOLDEN_QUERIES, using the SAME session
shape as the test suite (local[8], 8 shuffle partitions) and the same
fixture scale (SPARK_GRAFT_TEST_SF, default /root/testdata/sf0.001), so
a capture and the gate can never see different plans for the same code.

Refreshing a golden is a DELIBERATE act: re-run this tool only after a
plan change is understood and wanted, and say why in the commit.

    python tools/capture_plan_goldens.py            # all goldens
    python tools/capture_plan_goldens.py q1 q2 ...  # a subset
"""

from __future__ import annotations

import os
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

GOLDEN_DIR = ROOT / "tests" / "goldens" / "plans"
SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def main() -> int:
    from dataextractor_spark.plans.golden import GOLDEN_QUERIES, normalized_plan
    from dataextractor_spark.registry import load_all
    from dataextractor_spark.session import get_session

    from dataextractor_spark.plans.golden import lpa_kernel_golden_text

    # r13: the LPA sweep-kernel capture is a pseudo-golden (a kernel
    # frame, not a registry query) — see lpa_kernel_golden_text.
    extras = {"lpa_sweep_kernel": lpa_kernel_golden_text}
    targets = sys.argv[1:] or (list(GOLDEN_QUERIES) + list(extras))
    unknown = [
        q for q in targets if q not in GOLDEN_QUERIES and q not in extras
    ]
    if unknown:
        print(f"not in GOLDEN_QUERIES: {unknown}", file=sys.stderr)
        return 1

    from tests.conftest import SESSION_TZ

    spark = get_session(
        app_name="capture-plan-goldens", master="local[8]",
        shuffle_partitions=8, extra_conf=SESSION_TZ,
    )
    queries = load_all()
    GOLDEN_DIR.mkdir(parents=True, exist_ok=True)
    for name in targets:
        if name in extras:
            text = extras[name](spark, SF_SMALL)
        else:
            text = normalized_plan(queries[name].fn(spark, SF_SMALL))
        out = GOLDEN_DIR / f"{name}.txt"
        out.write_text(text)
        print(f"wrote {out.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
