"""Capture .explain("formatted") for declared queries into plans/<tag>/.

Usage: python tools_explain.py <tag> [query ...]
With no query args, captures every bench HEADLINE key. Writes
plans/<tag>/<query>.txt and prints a one-line plan-shape summary
(Exchange / join strategy / Python-eval and Python-scan node counts)
per query.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402
from food_panda_etl_spark.plans import plan_summary  # noqa: E402
from food_panda_etl_spark.queries import QUERIES  # noqa: E402
from food_panda_etl_spark.session import get_spark  # noqa: E402


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def shape(txt: str, python_scans: int) -> str:
    """Node counts of a formatted plan. The formatted text does not mark
    Python data-source scans, so their count comes from
    ``plan_summary(df).python_scans``."""
    c = {
        "Exchange": len(re.findall(r"\bExchange\b", txt)),
        "BHJ": len(re.findall(r"\bBroadcastHashJoin\b", txt)),
        "SMJ": len(re.findall(r"\bSortMergeJoin\b", txt)),
        "SHJ": len(re.findall(r"\bShuffledHashJoin\b", txt)),
        "BNLJ": len(re.findall(r"\bBroadcastNestedLoopJoin\b", txt)),
        "Win": len(re.findall(r"\bWindow\b", txt)),
        "Py": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", txt)
        ),
        "PyScan": python_scans,
        "Scan": len(re.findall(r"Scan parquet|Scan ExistingRDD", txt)),
    }
    return " ".join(f"{k}={v}" for k, v in c.items())


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="fpe-explain", extra_conf={"spark.ui.enabled": "false"})
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            txt = plan_text(df)
            py_scans = plan_summary(df).python_scans
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e}")
            continue
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(txt)
        print(f"{name}: {shape(txt, py_scans)}")
    spark.stop()


if __name__ == "__main__":
    main()
