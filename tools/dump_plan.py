"""Dump .explain("formatted") for named registry queries into
plans/r15/<query>_<suffix>.txt (r15 optimization-round evidence).

Usage: python tools/dump_plan.py <suffix> <query> [query ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lmo_data_catalog_spark import cache  # noqa: E402
from lmo_data_catalog_spark.registry import REGISTRY  # noqa: E402
from lmo_data_catalog_spark.session import get_spark  # noqa: E402

OUT = os.path.join(ROOT, "plans", "r15")


def main() -> int:
    suffix, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    for name in names:
        df = REGISTRY[name].builder(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = f"{OUT}/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: wrote {path} ({n_ex} Exchange mentions)")
        cache.release_all()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
