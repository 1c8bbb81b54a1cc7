"""Dump .explain("formatted") for selected registry queries to files.

Usage:
    python tools/dump_plans.py <out_dir> <suffix> <query> [<query> ...]

Writes <out_dir>/<query>_<suffix>.txt for each query (e.g. suffix =
"before" / "after" for the optimization-round plan evidence).  Uses the
sf0.1 fixture dir (override with SPARK_GRAFT_SF_DIR) so the plans carry
the same statistics the bench sees.

Expression ids (``#123``) and ``plan_id=N`` are stripped: they count up
per session, so two runs of the same plan differ only in them, and with
them removed identical plans diff empty.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


_SESSION_IDS = re.compile(r"#\d+|plan_id=\d+")


def strip_ids(plan: str) -> str:
    """``plan`` without the per-session expression and plan ids."""
    return _SESSION_IDS.sub("", plan)


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from vector_search_spark import registry
    from vector_search_spark.session import get_spark, shuffle_partitions_for

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark(
        "dump-plans", cpus=cpus, shuffle_partitions=shuffle_partitions_for(sf_dir, cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(strip_ids(plan))
        print(f"# wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
