"""Dump .explain("formatted") for declared queries to plans/$SPARK_GRAFT_PLANS_REV (default r18)/.

Usage:
    SPARK_GRAFT_CPUS=8 python tools/dump_plans.py <suffix> <query> [query ...]

Writes plans/<rev>/<query>_<suffix>.txt for each named query, where
<rev> is $SPARK_GRAFT_PLANS_REV (default r18) and the suffix is
"before" or "after". The DataFrame is built through the same
``__spark_entry__.queries()`` registry the driver uses, so the dumped
plan is exactly the benched/oracled plan. Queries whose entry builds
an on-disk index per call dump the plan of the RETURNED DataFrame
(the serve phase); nothing dumps or checks build-phase plans — the
structural plan locks live in tests/test_plan_quality.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans", os.environ.get("SPARK_GRAFT_PLANS_REV", "r18"),
)


def fmt(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    suffix = sys.argv[1]
    names = sys.argv[2:]

    import __spark_entry__ as entry_mod
    from parq_tools_spark import get_spark

    spark = get_spark("dump-plans")
    queries = entry_mod.queries()
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        if name not in queries:
            print(f"[skip] {name}: not a declared query")
            continue
        df = queries[name](spark, SF)
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {SF}  (.explain formatted)\n")
            f.write(fmt(df))
        print(f"[ok] {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
