"""Lints that keep the 100 TB scale contracts honest:

- the SinglePartition-window detector in tools/explain_audit.py must
  catch a deliberately by-less window (seeded regression) and must NOT
  fire on partitioned windows or global aggregates;
- ``TXT.hash32`` (a 2^32 keyspace) must never be used as an IDENTITY on
  an unbounded-cardinality domain — only as a %128 bucketing or a
  uniform-[0,1) draw (the round-6 lesson: a 32-bit gram identity
  saturates at corpus-scale cardinalities and silently mis-attributes).
"""

from __future__ import annotations

import importlib.util
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _audit():
    return _tool("explain_audit")


def _simple_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


def test_lint_flags_seeded_byless_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    audit = _audit()
    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("x")
    )
    byless = df.select(
        "k", F.row_number().over(Window.orderBy("x")).alias("rk")
    )
    assert audit.singlepartition_window(_simple_plan(byless)), (
        "a global (by-less) window sort must be flagged"
    )


def test_lint_passes_partitioned_window_and_global_agg(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    audit = _audit()
    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("x")
    )
    partitioned = df.select(
        "k",
        F.row_number().over(Window.partitionBy("k").orderBy("x")).alias(
            "rk"
        ),
    )
    assert not audit.singlepartition_window(_simple_plan(partitioned))
    # global aggregate funnels partial aggs through SinglePartition —
    # that is a reduction, not a sort, and must NOT be flagged
    global_agg = df.agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    assert not audit.singlepartition_window(_simple_plan(global_agg))
    # global sort-by (range partitioned, not SinglePartition): clean
    assert not audit.singlepartition_window(_simple_plan(df.orderBy("x")))


def test_global_window_whitelist_names_real_queries():
    from slipstream_async_spark.plans.catalog import _QUERIES

    audit = _audit()
    stale = set(audit.ALLOW_GLOBAL_WINDOW) - set(_QUERIES)
    assert not stale, f"whitelist entries with no catalog query: {stale}"


def test_bnlj_whitelist_names_real_queries():
    from slipstream_async_spark.plans.catalog import _QUERIES

    audit = _audit()
    stale = (set(audit.ALLOW_BNLJ) | set(audit.PY_STAGE_OK)) - set(_QUERIES)
    assert not stale, f"whitelist entries with no catalog query: {stale}"


def test_audit_covers_entire_catalog(catalog_build):
    """The r7 escape: orders_hurst_rs shipped between two PARTIAL audit
    runs and nothing asserted audit coverage == catalog coverage, so its
    SP-WINDOW/BNLJ flags went unadjudicated for a round. This test IS
    the full audit (flag logic over every catalog query's plan, no
    files) — a new query that plans a by-less window sort, a cartesian
    product, an unlisted BNLJ, or an unlisted Python stage now fails
    pytest until it is either rewritten or whitelisted with a
    justification in tools/explain_audit.py."""
    import re as _re

    from slipstream_async_spark.plans.catalog import _QUERIES

    audit = _audit()
    assert set(catalog_build) == set(_QUERIES)
    flagged: dict[str, list[str]] = {}
    for name, built in catalog_build.items():
        plan = built["formatted"]
        plan_simple = built["simple"]
        flags = []
        if (
            audit.singlepartition_window(plan_simple)
            and name not in audit.ALLOW_GLOBAL_WINDOW
        ):
            flags.append("SP-WINDOW")
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan and name not in audit.ALLOW_BNLJ:
            flags.append("BNLJ")
        if (
            _re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan)
            and name not in audit.PY_STAGE_OK
        ):
            flags.append("PYTHON-STAGE")
        if flags:
            flagged[name] = flags
    assert not flagged, (
        f"unadjudicated plan flags (rewrite or whitelist with a "
        f"justification in tools/explain_audit.py): {flagged}"
    )


def test_dump_is_independent_of_distinct_group_order():
    """Spark's distinct-aggregate rewrite numbers its groups in an order
    that follows the session's expression-id history. Two masked dumps
    of one plan that differ only in that order must come out identical,
    and a real difference (another literal) must survive."""
    dump = _tool("dump_plans")
    template = "\n".join([
        "(13) Expand",
        "Input [2]: [source#12, t#13]",
        "Arguments: [[CASE WHEN (source#12 = {a}) THEN t#13 END, null, null, "
        "1], [null, t#13, null, 2], [null, null, CASE WHEN (source#12 = {b}) "
        "THEN t#13 END, 3]], [CASE WHEN {a} END#40, t#41, CASE WHEN {b} "
        "END#42, gid#43]",
        "Keys [4]: [CASE WHEN {a} END#40, t#41, CASE WHEN {b} END#42, gid#43]",
        "Arguments: hashpartitioning(CASE WHEN {a} END#40, t#41, CASE WHEN "
        "{b} END#42, gid#43, 4), ENSURE_REQUIREMENTS, [plan_id=7]",
        "Functions [2]: [partial_count(CASE WHEN src0 END#40) FILTER (WHERE "
        "(gid#43 = {g0})), partial_count(CASE WHEN src1 END#42) FILTER "
        "(WHERE (gid#43 = {g1}))]",
    ])

    def plan(a: str, b: str) -> str:
        g0, g1 = (1, 3) if a == "src0" else (3, 1)
        return template.format(a=a, b=b, g0=g0, g1=g1)

    def canonical(text: str) -> str:
        return dump.sort_distinct_groups(dump.mask_ids(text))

    one, other = plan("src0", "src1"), plan("src1", "src0")
    assert dump.mask_ids(one) != dump.mask_ids(other)
    assert canonical(one) == canonical(other)
    assert canonical(one) != canonical(plan("src0", "src2"))
    assert canonical(one).split("\n")[:2] == [
        "(13) Expand",
        "Input [2]: [source#N, t#N]",
    ]


def test_hash32_never_an_unbounded_identity():
    src = open(
        os.path.join(
            REPO, "slipstream_async_spark", "plans", "catalog.py"
        )
    ).read()
    lines = src.splitlines()
    uses = [i for i, ln in enumerate(lines) if "TXT.hash32" in ln]
    assert uses, "lint is vacuous — hash32 call sites not found"
    for i in uses:
        window = "\n".join(lines[i : i + 8])
        # any immediate modular reduction makes the value a BOUNDED
        # bucket/rate draw (collisions are the point, uniformity is the
        # only requirement); the lint exists to stop hash32 as an
        # unreduced IDENTITY on unbounded domains
        bounded = re.search(r"%\s*\d+", window) is not None
        uniform = "4294967296" in window  # uniform-[0,1) draw, not identity
        assert bounded or uniform, (
            f"catalog.py:{i + 1}: TXT.hash32 used outside the bounded "
            "whitelist (modular bucketing / uniform draw) — use TXT.hash64 "
            "for identities on unbounded domains"
        )


def test_readme_counts_match_catalog():
    # round-5 AND round-6 both shipped stale README counts; pin them.
    from slipstream_async_spark.plans.catalog import _ORACLES, _QUERIES

    n = len(_QUERIES)
    assert len(_ORACLES) == n, "every query must stay oracle-paired"
    readme = open(os.path.join(REPO, "README.md")).read()
    claimed = (
        {int(m) for m in re.findall(r"(\d+) query/oracle pairs", readme)}
        | {int(m) for m in re.findall(r"Full catalog \((\d+) queries\)", readme)}
        | {int(m) for m in re.findall(r"`queries\(\)` \((\d+)\)", readme)}
        | {int(m) for m in re.findall(r"catalog\.py\s+(\d+) \(Spark query", readme)}
    )
    assert claimed, "README no longer states catalog counts — re-add them"
    assert claimed == {n}, (
        f"README claims {sorted(claimed)} but the catalog has {n} "
        "oracle-paired queries — sync README.md"
    )


def test_readme_streaming_figures_match_bench_artifact():
    """Round-9 lesson: the README's streaming throughput claims drifted
    from the committed BENCH_STREAMING.json (readme said ~3,300 rows/s,
    artifact said 3,024). Pin every headline '~N rows/s' / '~N ...
    marginal' claim to the artifact, rounded to the nearest 100 — the
    README must be re-synced whenever the bench artifact is refreshed."""
    import json

    with open(os.path.join(REPO, "BENCH_STREAMING.json")) as fh:
        flows = json.load(fh)["flows"]
    readme = open(os.path.join(REPO, "README.md")).read()

    def claim(v: float) -> str:
        return f"~{round(v / 100) * 100:,}"

    nd = flows["incremental_near_dup"]
    expected = {
        "windowed_agg": claim(flows["windowed_agg"]["rows_per_sec"]),
        "session_window_agg": claim(
            flows["session_window_agg"]["rows_per_sec"]
        ),
        "bloom_dedup": claim(flows["bloom_dedup"]["rows_per_sec"]),
        "composed_session_dedup_cdc": claim(
            flows["composed_session_dedup_cdc"]["rows_per_sec"]
        ),
        "ann_marginal": claim(
            flows["ann_ivf_enrich"]["marginal_rows_per_sec"]
        ),
        # r11: the near-dup headline is the grown-corpus FLATNESS pair
        # (persistent index vs rebuild sink), not a marginal-rate fit
        # (which can go negative/None when per-trigger cost is flat)
        "neardup_ratio_indexed": "{:.2f}x".format(
            nd["flatness_indexed"]["grown_corpus_ratio"]
        ),
        "neardup_ratio_legacy": "{:.2f}x".format(
            nd["flatness_legacy_rebuild"]["grown_corpus_ratio"]
        ),
    }
    missing = {k: v for k, v in expected.items() if v not in readme}
    assert not missing, (
        f"README streaming figures out of sync with BENCH_STREAMING.json: "
        f"expected these rounded claims to appear verbatim: {missing}"
    )
