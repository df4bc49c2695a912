"""Capture .explain('formatted') for catalog queries into plans/r14/.

Usage:
    python scripts/capture_plans_r14.py before q1_scan_filter q2_knn_l2 ...
    python scripts/capture_plans_r14.py after  q1_scan_filter ...

Writes plans/r14/<name>_<tag>.txt. Runs each spec's Spark callable at the
bench scale factor ($SPARK_GRAFT_SF_DIR, default sf0.1) and saves the
formatted physical plan of the returned DataFrame. The spec call itself may
do eager call-time work (index builds); that cost is attributed in
OPTIMIZATION_r14.md, not here — this script only records plan shape.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cuda_acceleratedvectordatabaseengine_spark.plans import queries as Q
from cuda_acceleratedvectordatabaseengine_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if tag == "before":
        # render the r13 physical shapes via the kept A/B switch, so the
        # before/after plan diff is reproducible from one tree (the r13
        # two-window top-k merge arm no longer exists)
        from cuda_acceleratedvectordatabaseengine_spark.operators import textops

        textops.DENSE_VECTOR_IMPL = "case"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r14",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"cavde-plans-{tag}")
    specs = Q.all_specs()
    for name in names:
        spec = specs.get(name)
        if spec is None:
            print(f"# {name}: NOT FOUND", file=sys.stderr)
            continue
        df = spec.spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"# wrote {path} ({len(plan)} chars)", file=sys.stderr)


if __name__ == "__main__":
    main()
