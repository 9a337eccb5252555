#!/usr/bin/env python
"""Driver-style oracle replay over the FULL corpus at an arbitrary SF.

The pytest oracle gate runs at sf0.001; the driver's correctness gate runs
at sf0.01.  Gaps between the two (data-dependent edge rows that only exist
at the larger SF) are exactly the class that made fn_math green locally and
red at the driver in round 4.  This tool replays every corpus entry (or a
named subset) through tests/oracle_harness.compare — the same type-strict
gate — at any SF directory, so certification closes can be de-risked
mechanically before the driver runs.

Usage: python tools/replay_oracle.py [sf_dir] [entry ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None

    from datafusion_ballista_python_spark.session import build_session
    from tests.oracle_harness import run_all

    spark = build_session(app_name="replay-oracle")

    results = run_all(spark, sf_dir, only=only)
    if only:
        unknown = sorted(set(only) - set(results))
        if unknown:
            print(f"ERROR: unknown entry names {unknown} — nothing certified")
            spark.stop()
            return 2
    if not results:
        print("ERROR: zero entries ran — nothing certified")
        spark.stop()
        return 2
    bad = 0
    for name, status in results.items():
        # MATCH and ROWS_ONLY (oracle-less entries, weaker by design) are
        # ok; anything else — MISMATCH, ERROR, or a status this tool does
        # not recognize — counts as bad rather than silently passing
        if not (status == "MATCH" or status.startswith("ROWS_ONLY")):
            bad += 1
        print(f"{name}: {status}")
    print(f"\n{len(results) - bad}/{len(results)} ok at {sf_dir}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
