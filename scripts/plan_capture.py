"""Capture .explain("formatted") + AQE-final executed plans for named
registry entries into plans/<round>/<name>_<tag>.txt (an optimization
round's before/after evidence — guide §1/§7.2).

Usage: python scripts/plan_capture.py <round> <tag> <name> [<name> ...]
  round names the output dir under plans/ (e.g. "r14"); tag is "before"
  or "after". Runs at sf0.001 (cheap, same plan shapes),
  executes each entry first so AQE's final plan is real (CLAUDE.md: AQE
  hides the final plan until execution).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_mm_spark import registry
from flink_mm_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")


def main() -> None:
    rnd, tag, *names = sys.argv[1:]
    out_dir = os.path.join(PLANS_DIR, rnd)
    registry.load_all()
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        raise KeyError(f"not registered: {unknown}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"{rnd}-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        df = registry.QUERIES[name].fn(spark, SF_DIR)
        formatted = df._jdf.queryExecution().explainString(mode)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        text = (
            f"== {name} ({tag}, sf0.001) ==\n\n"
            "---- explain(formatted) ----\n" + formatted +
            "\n---- AQE-final executedPlan (after collect) ----\n" + final
        )
        text = re.sub(r"file:[^,\]\s]+", "file:<path>", text)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
