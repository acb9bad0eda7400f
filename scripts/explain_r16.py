#!/usr/bin/env python
"""Dump .explain('formatted') for named queries to plans/r16/<name>_<tag>.txt.

Usage: python scripts/explain_r16.py <before|after> q_a q_b ...
Streaming/protocol drills return a persisted result frame whose plan is
an InMemory scan; their meaningful evidence is the job-level profile
(scripts/profile_r15.py), committed alongside.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dynamodb_pitr_restore_cdc_spark.registry import all_queries, release_persisted  # noqa: E402
from dynamodb_pitr_restore_cdc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    out_dir = os.path.join(ROOT, "plans", "r16")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain_r16", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    for name in names:
        df = specs[name].builder(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        release_persisted()
        print(f"wrote {name}_{tag}.txt", file=sys.stderr)


if __name__ == "__main__":
    main()
