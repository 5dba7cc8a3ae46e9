#!/usr/bin/env python3
"""Capture .explain('formatted') for every headline bench query into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence files
(the judge checks plan claims against these).

Usage: python capture_plans.py <tag> <suffix>   e.g. r14 before
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from bench import HEADLINE

    from aws_etl_microservice_redshift_datalake_spark import all_queries, get_session
    from aws_etl_microservice_redshift_datalake_spark.plans.audit import plan_str

    spark = get_session("capture-plans")
    qs = all_queries()
    for name in HEADLINE:
        if name not in qs:
            continue
        plan = plan_str(qs[name](spark, sf_dir), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
