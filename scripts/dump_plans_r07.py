"""Dump .explain("formatted") output to plans/r07/<query>_<suffix>.txt.

Usage: python scripts/dump_plans_r07.py before q1 q2 ...
       python scripts/dump_plans_r07.py after q1 q2 ...

The judge checks round-7 plan claims against these files; capture BEFORE
touching an operator and again after.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from batch_doc_vqa_spark.session import default_cpus, get_spark  # noqa: E402

OUT_DIR = "/root/repo/plans/r07"


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("plans_r07", master=f"local[{cpus}]", shuffle_partitions=cpus)
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
