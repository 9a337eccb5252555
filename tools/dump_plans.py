#!/usr/bin/env python
"""Dump .explain("formatted") for corpus entries to plans/<dir>/<name>_<tag>.txt.

Usage: python tools/dump_plans.py --dir plans/r12 --tag after <query> [...]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    out_dir, tag = "plans/r12", "after"
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--dir":
            out_dir = args[i + 1]
            i += 2
        elif args[i] == "--tag":
            tag = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    from datafusion_ballista_python_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="dump_plans")
    from datafusion_ballista_python_spark.corpus import load_all

    registry = load_all()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
