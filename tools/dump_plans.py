"""Dump `.explain("formatted")` for the named declared queries to
<out_dir>/<query>_<suffix>.txt — the plan evidence behind a plan claim,
captured as a before/after pair around a change (see plans/r14, plans/r15).

Usage: python tools/dump_plans.py <out_dir> <suffix> q1 q2 ...
The queries read the tables under SPARK_GRAFT_SF_DIR (default: the sf0.1 set).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print("wrote", name, suffix)


if __name__ == "__main__":
    main()
