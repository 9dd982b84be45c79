"""Generate PLANS.txt: the executed physical plan of every declared
query at the bench scale factor, plus a one-line summary (exchanges /
broadcasts / codegen spans / file scans).  Review artifact for the
scale audit in SCALE.md.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from flox_spark.session import get_spark


def main(sf_dir: str = "/root/testdata/sf0.1", out_path: str = os.path.join(ROOT, "PLANS.txt")) -> None:
    # a fixed core count: shuffle partitions are max(cpus, 8), and they
    # show in the plans, so PLANS.txt must not depend on the host
    spark = get_spark("explain_report", cpus=8)
    lines = []
    summary = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            # NB: plans are AdaptiveSparkPlan isFinalPlan=false —
            # WholeStageCodegen markers appear only post-execution, so
            # we count operator kinds instead
            counts = {
                "exchanges": plan.count("Exchange"),
                "bhj": plan.count("BroadcastHashJoin"),
                "smj": plan.count("SortMergeJoin"),
                "hashagg": plan.count("HashAggregate"),
                "scans": plan.count("FileScan"),
                "windows": plan.count("Window"),
            }
            summary.append(f"{name:22s} " + "  ".join(f"{k}={v}" for k, v in counts.items()))
            lines.append(f"{'=' * 75}\n## {name}\n{'=' * 75}\n{plan}\n")
        except Exception as e:
            summary.append(f"{name:22s} ERROR {e}")
    with open(out_path, "w") as f:
        f.write("# PLANS — executed physical plans per declared query (sf0.1)\n\n")
        f.write("## Summary\n\n" + "\n".join(summary) + "\n\n")
        f.write("\n".join(lines))
    print(f"wrote {out_path}")
    print("\n".join(summary))


if __name__ == "__main__":
    main(*sys.argv[1:])
