"""Capture .explain('formatted') for queries into plans/<tag>/.

Usage:
    python tools/plans.py <tag> <label> [names...]   # -> plans/<tag>/<q>_<label>.txt

e.g. ``python tools/plans.py r17 before`` before a change and
``python tools/plans.py r17 after`` with it. Default names: the bench
HEADLINE set. Reads $SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture,
the bench scale) so the plan AQE sees matches what the bench runs.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    if len(sys.argv) < 3:
        sys.stderr.write(__doc__ + "\n")
        return 2
    tag, label = sys.argv[1], sys.argv[2]

    import bench
    from parquet_pipeline_spark import registry
    from parquet_pipeline_spark.session import get_spark, warm_up
    from __spark_entry__ import SMOKE_SF_DIR

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.1")
    )
    registry.load_all()
    spark = get_spark(f"{tag}_plans")
    warm_up(spark)

    names = sys.argv[3:] or bench.HEADLINE
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{label}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
