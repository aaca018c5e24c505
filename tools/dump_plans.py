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

Aggregates with several distinct groups (``vocab_hll_intersection``,
``lang_source_chisq``) are rewritten by Spark into an Expand whose group
order, and so its projection order, column order and ``gid`` numbers,
follows the session's expression-id history. ``sort_distinct_groups``
makes those lines canonical: on every line that references ``gid`` the
group numbers become ``G`` and every list is sorted, so two dumps of one
tree are byte-identical for these queries too.

Some plans still depend on what the session built before: in one
session, the masked plans of 21 queries (e.g. ``dedup_clusters``,
``lineitem_exact_quantiles``) differ between a first and a second
full-catalog pass, while each query alone repeats exactly. So compare
trees only through dumps made the same way: a fresh session, the full
catalog and the same order (name no queries).
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


_PAIRS = {"[": "]", "(": ")"}


def _sort_lists(text: str) -> str:
    """``text`` with the items of every bracketed or parenthesized list
    sorted, innermost first; top-level items keep their order."""
    pos = 0

    def items(close: str) -> list[str]:
        nonlocal pos
        out, cur = [], ""
        while pos < len(text):
            c = text[pos]
            pos += 1
            if c == close:
                break
            if c in _PAIRS:
                cur += c + ", ".join(sorted(items(_PAIRS[c]))) + _PAIRS[c]
            elif c == ",":
                out.append(cur.strip())
                cur = ""
            else:
                cur += c
        return out + [cur.strip()]

    return ", ".join(items(""))


def sort_distinct_groups(plan: str) -> str:
    """``plan`` (already masked) with the distinct-aggregate rewrite's
    group order taken out: on each line that references ``gid``, the
    group numbers (``gid#N = 2`` and the bare integer items of the
    Expand projections) become ``G`` and every list is sorted."""
    lines = []
    for line in plan.split("\n"):
        if "gid#N" in line:
            line = re.sub(r"gid#N = \d+", "gid#N = G", line)
            if line.startswith("Arguments: [["):
                line = re.sub(r"(?<=[\[ ])\d+(?=[,\]])", "G", line)
            line = _sort_lists(line)
        lines.append(line)
    return "\n".join(lines)


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
                fh.write(sort_distinct_groups(mask_ids(plan)))
            print(f"ok    {n}")
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {n}: {exc}")
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
