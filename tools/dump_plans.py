"""Dump .explain('formatted') for named catalog queries to files.

Usage: python tools/dump_plans.py <out_dir> <suffix> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query (all queries when
none named). To compare plans across a change, run it once in a checkout
of each tree (suffixes ``before`` and ``after``) and diff the two
directories; the dumps are regenerated on demand, not committed.
Tables are read from the directory named by ``SPARK_GRAFT_SF_DIR``.

Ids that depend on the session's history, not on the plan, are masked
with ``N`` before writing (see ``mask_ids``): expression ids (``#123``),
``plan_id=``, RDD ids (``MapPartitionsRDD[12]``), lambda variable
suffixes (``lambda x_12``) and ``scoped_cache`` sequence tags
(``label:12 AS __scope``).

Two queries still differ between dumps of the same tree:
``vocab_hll_intersection`` and ``lang_source_chisq``. Their aggregates
hold several distinct groups, and Spark's distinct-aggregate rewrite
orders the Expand projections by the session's expression-id history,
which masking cannot undo.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"(\w):\d+ AS __scope"), r"\1:N AS __scope"),
)


def mask_ids(plan: str) -> str:
    """``plan`` with its session-dependent ids replaced by ``N``."""
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> int:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from slipstream_async_spark.plans.catalog import queries
    from slipstream_async_spark.session import get_spark

    spark = get_spark("dump-plans")
    qs = queries()
    if not names:
        names = list(qs)
    rc = 0
    for n in names:
        try:
            df = qs[n](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(out_dir, f"{n}_{suffix}.txt"), "w") as fh:
                fh.write(mask_ids(plan))
            print(f"ok    {n}")
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {n}: {exc}")
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
