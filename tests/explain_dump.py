"""Dump .explain("formatted") for every benched query to plans/<tag>/.

Usage:
    python tests/explain_dump.py <tag> [suffix] [only,names]

Writes plans/<tag>/<query>_<suffix>.txt (suffix defaults to "before").
Without ``only`` it dumps the bench.py HEADLINE names; ``only`` may
name any registered driver or parity query.
Streaming SPECIAL workloads have no single DataFrame plan and are
skipped. Queries whose construction itself runs jobs (trained IVF's
Lloyd iterations) still produce the final serving plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import __spark_entry__ as E  # noqa: E402
from canal_phoenix_adapter_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    qs = E.queries()
    try:
        from tests.parity_registry import PARITY_QUERIES
        qs = {**PARITY_QUERIES, **qs}
    except Exception as e:  # noqa: BLE001
        print(f"WARNING: parity registry unavailable: {e!r}", file=sys.stderr)

    if only:
        unknown = sorted(only - qs.keys())
        if unknown:
            sys.exit(f"not a registered driver or parity query: {unknown}")
        names = sorted(only)
    else:
        names = [n for n in bench.HEADLINE if n in qs]
    spark = get_spark("explain-dump")
    for name in names:
        spark.catalog.clearCache()
        try:
            df = qs[name](spark, sf_dir)
            # Execute the query's own QueryExecution first so the
            # AdaptiveSparkPlan is FINAL (isFinalPlan=true): the
            # static plan shows SortMergeJoin where AQE actually runs
            # a broadcast join, and judging strategies off the static
            # text misattributes. collect() is bounded at the plan
            # SFs (pair outputs are thousands of rows).
            df.collect()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e!r}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
