"""Handler algebra: map / flat-map / filter / pipes / fan-in / fan-out.

The reference's entire row-level operator set is the handler return-type
protocol (slipstream/core.py:616-672): ``return`` = map, ``yield`` 0..n =
filter/flat-map, and "pipes" compose ``AsyncIterable -> AsyncIterable``
transformers before the handler (slipstream/utils.py:19,
slipstream/core.py:244-255) — e.g. ``pairwise`` and ``accumulate``
(docs/source/cookbook.rst:99-132).

Spark-first mapping — all JVM-side, no Python in the hot path:

- map      -> ``df.select`` / ``withColumn``          (P1)
- flat-map -> array column + ``explode``              (P2/P3)
- filter   -> ``df.filter``                           (P4)
- pipes    -> ``DataFrame -> DataFrame`` composition via ``df.transform``
- pairwise -> ``lag().over(window)``                  (P10)
- accumulate -> running ``sum().over(rowsBetween)``   (P11)
- fan-in   -> ``unionByName``                         (P7)
- fan-out  -> multiple sinks over one DataFrame       (P6/P8)

Note the scale inversion: the reference's pairwise/accumulate are
single-stream sequential; here they are per-key window functions — the
global-order variants (key=None) force a single partition and exist only
for small streams / parity tests. At 100 TB always pass a key.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

Pipe = Callable[[DataFrame], DataFrame]


class GlobalSortWarning(UserWarning):
    """An operator fell back to a single-partition global window.

    Correct but sequential: the whole input is sorted in ONE task. Fine
    for small parity streams; a scale-killer on large data. Pass a
    partitioning ``key``/``by`` to distribute."""


def warn_global_sort(op: str, key_param: str = "key", stacklevel: int = 3) -> None:
    # stacklevel 3 points at the caller of a direct operator call; pass 4
    # from the _ordered_window path so the warning lands on user code,
    # not operator internals.
    warnings.warn(
        f"{op}: no '{key_param}' given — falling back to a GLOBAL window "
        "(single partition, sequential). Pass a partitioning "
        f"'{key_param}' for any data that doesn't fit one task.",
        GlobalSortWarning,
        stacklevel=stacklevel,
    )


def pipe(df: DataFrame, *pipes: Pipe) -> DataFrame:
    """Compose DataFrame->DataFrame transformers (slipstream Pipe analog)."""
    return reduce(lambda acc, p: acc.transform(p), pipes, df)


def fan_in(*dfs: DataFrame) -> DataFrame:
    """Bind one handler to several sources (slipstream/core.py:694-697)."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=False), dfs)


def _ordered_window(order_col, key: str | None) -> Window:
    """``order_col`` may be one column name or a list — pass the stream's
    unique tie-break (e.g. ["ts", "event_id"]) whenever the primary order
    key can collide, or ranking output is run-dependent."""
    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    if key is None:
        warn_global_sort("ordered window op", stacklevel=4)
        return Window.orderBy(*cols)
    return Window.partitionBy(key).orderBy(*cols)


def pairwise(
    df: DataFrame,
    order_col: str,
    cols: list[str] | None = None,
    key: str | None = None,
    prefix: str = "prev_",
) -> DataFrame:
    """Emit (previous, current) per row — the reference's ``pairwise`` pipe
    (docs/source/cookbook.rst:119-131) as a lag-1 window function.

    Rows with no predecessor carry NULL prev columns (the reference's
    pairwise drops the first element; filter ``prev_* IS NOT NULL`` for
    exact parity).
    """
    w = _ordered_window(order_col, key)
    out = df
    for c in cols or [c for c in df.columns if c != order_col]:
        out = out.withColumn(prefix + c, F.lag(c, 1).over(w))
    return out


def accumulate(
    df: DataFrame,
    value_col: str,
    order_col: str,
    key: str | None = None,
    out_col: str = "running_total",
) -> DataFrame:
    """Prefix sums over the stream — the reference's ``accumulate`` pipe
    (docs/source/cookbook.rst:127-131) as a running-sum window function.
    """
    w = _ordered_window(order_col, key).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, F.sum(value_col).over(w))


def flat_map_split(
    df: DataFrame, text_col: str, pattern: str = r"\s+", out_col: str = "token"
) -> DataFrame:
    """Flat-map (1 -> 0..n) as split + explode — the generator-handler
    branch of the reference's processor (slipstream/core.py:629-632),
    expressed as JVM-side array ops instead of a Python generator.
    """
    return df.withColumn(out_col, F.explode(F.split(F.col(text_col), pattern)))


def batched(df: DataFrame, order_col: str | list[str], size: int, key: str | None = None,
            out_col: str = "batch_id") -> DataFrame:
    """Group a stream into fixed-size chunks (docs/source/index.rst:16
    'batching'): assign a batch number per ``size`` consecutive rows.
    """
    w = _ordered_window(order_col, key)
    return df.withColumn(
        out_col, ((F.row_number().over(w) - F.lit(1)) / F.lit(size)).cast("bigint")
    )


def flat_map_handler(
    df: DataFrame, fn: Callable, schema, batch_size_hint: int | None = None
) -> DataFrame:
    """The reference's generator-handler branch (slipstream/core.py:629-632:
    ``yield`` 0..n values per input) as a REAL Python handler over Spark —
    for logic that genuinely can't be an expression (P2/P3 when explode
    won't do).

    ``fn(row) -> Iterable[dict]`` yields zero or more output dicts per
    input row (a namedtuple-style row). Executed via ``mapInPandas``:
    Arrow-batched transfer, one Python invocation per batch (not per row),
    declared output ``schema`` — the fast lane for Python handlers,
    ~10-100x over row-at-a-time UDFs. Still the slow path vs pure
    expressions: prefer ``flat_map_split``/``explode`` when expressible.
    """

    def _batches(it):
        import pandas as pd

        for batch in it:
            out: list[dict] = []
            for row in batch.itertuples(index=False):
                out.extend(fn(row))
            yield pd.DataFrame(out, columns=list(schema.fieldNames()))

    return df.mapInPandas(_batches, schema)


def as_udtf(fn: Callable, schema: str):
    """Wrap a generator function as a registered-style Python UDTF
    (Spark 3.5+ lateral-join lane) — the reference's generator handler
    (slipstream/core.py:629-632) usable directly in SQL via
    ``LATERAL``/``TABLE()`` or ``udtf_obj(col)`` in the DataFrame API.

    ``fn(*cols) -> Iterable[tuple]`` yields output rows per input row.
    Row-at-a-time Python — the SLOWEST lane (SURVEY §2.9); prefer
    ``flat_map_handler`` (Arrow-batched) or pure explode. Exists for API
    completeness and for genuinely per-row stateful generators.
    """
    from pyspark.sql.functions import udtf

    class _Handler:
        def eval(self, *args):
            yield from fn(*args)

    return udtf(_Handler, returnType=schema)


def grouped_zscore(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    out_col: str = "zscore",
    ndigits: int = 4,
) -> DataFrame:
    """Per-group z-score normalization via ``applyInPandas`` — the batch
    grouped-map UDAF lane (SURVEY §2.9: the reference's stateful handler
    over Cache maps to grouped pandas execution). Whole groups arrive as
    Arrow-backed pandas frames; numpy does the math vectorized.

    Use the expression form (`(v - avg over w) / stddev over w`) when the
    math IS expressible — this lane exists for group-wise logic that
    isn't (model scoring, per-group fits). Groups must fit one task's
    memory: at 100 TB salt oversized groups first (operators.skew).
    """
    import pandas as pd

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{out_fields}, {out_col} double"

    def norm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        v = pdf[value_col]
        sd = v.std(ddof=1)
        z = (v - v.mean()) / sd if sd and sd > 0 else v * 0.0
        return pdf.assign(**{out_col: z.round(ndigits)})

    return df.groupBy(*key_cols).applyInPandas(norm, schema)
