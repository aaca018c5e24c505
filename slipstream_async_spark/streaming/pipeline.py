"""Pipeline: the reference's ``@handle``/``stream()`` wiring layer,
Spark-first.

Reference model (slipstream/core.py:675-713): ``@handle(*sources,
pipe=[...], sink=[...])`` registers a handler between async-iterable
sources and callable sinks on a ``Conf`` singleton registry; ``stream()``
gathers everything onto one event loop.

Here the registry holds (source DataFrame, transform, sinks) triples and
``stream()`` starts one StreamingQuery per (handler, sink) —
Spark's scheduler replaces the event loop; watermarks replace manual
pause/resume backpressure. The "handler" is a ``DataFrame -> DataFrame``
function (stateless transforms stay JVM-side; stateful ones use
streaming.stateful helpers). Pipes compose before the handler exactly
like the reference's ``Pipe = AsyncIterable -> AsyncIterable``
(slipstream/utils.py:19, applied at core.py:244-255).

Fan-out (reference P6/P8: every output to every sink via synchronized
generator copies, utils.py:116-200) becomes either N independent queries
over the same source or a single ``foreachBatch`` multi-write when the
source must be read exactly once.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

Transform = Callable[[DataFrame], DataFrame]
Sink = Callable[[DataFrame], StreamingQuery]


@dataclass
class _Flow:
    name: str
    source: DataFrame
    transform: Transform
    sinks: list[Sink]


@dataclass
class Pipeline:
    """A named registry of flows — the Conf-singleton analog, minus the
    singleton (explicit instance; tests stay isolated, unlike the
    reference's module-global Conf that its test suite must reset,
    reference tests/conftest.py:18-32).
    """

    flows: list[_Flow] = field(default_factory=list)
    queries: list[StreamingQuery] = field(default_factory=list)

    def handle(
        self,
        *sources: DataFrame,
        pipe: list[Transform] | None = None,
        sink: list[Sink] | None = None,
        name: str | None = None,
    ):
        """Decorator: bind a DataFrame transform to sources and sinks.

        Multiple sources fan-in via unionByName (reference loops
        ``handle(*iterable)``, core.py:694-697, binding the handler to
        each source — with identical schemas that is exactly a union).
        """

        def deco(fn: Transform) -> Transform:
            def transform(df: DataFrame) -> DataFrame:
                piped = reduce(lambda acc, p: acc.transform(p), pipe or [], df)
                return fn(piped)

            src = reduce(lambda a, b: a.unionByName(b), sources)
            self.flows.append(
                _Flow(name or fn.__name__, src, transform, list(sink or []))
            )
            return fn

        return deco

    def stream(self, await_termination: bool = False) -> list[StreamingQuery]:
        """Start every registered flow (the ``stream()``/``Conf.start``
        analog, core.py:193-208). Each sink gets its own query; sinks
        are callables receiving the transformed DataFrame and returning
        a started StreamingQuery (see memory_sink/parquet_sink below).
        """
        for flow in self.flows:
            out = flow.transform(flow.source)
            for s in flow.sinks:
                self.queries.append(s(out))
        if await_termination:
            for q in self.queries:
                q.awaitTermination()
        return self.queries

    def process_all_available(self) -> None:
        """Drain all pending micro-batches synchronously (test harness —
        the analog of the reference's deterministic synchronized-generator
        test mode)."""
        for q in self.queries:
            q.processAllAvailable()

    def stop(self) -> None:
        """Graceful shutdown (exit hooks analog, core.py:189-216)."""
        for q in self.queries:
            q.stop()
        self.queries.clear()


# Sink factories (reference: sinks are arbitrary callables; Topic/ICache
# sinks take (key, value) — core.py:597-613).


def memory_sink(name: str, output_mode: str = "append") -> Sink:
    def start(df: DataFrame) -> StreamingQuery:
        return (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )

    return start


def parquet_sink(path: str, checkpoint: str) -> Sink:
    def start(df: DataFrame) -> StreamingQuery:
        return (
            df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .start()
        )

    return start


def foreach_batch_sink(fn: Callable, checkpoint: str | None = None) -> Sink:
    """Arbitrary-callable sink (S6) and multi-write fan-out (P6): ``fn``
    receives (batch_df, epoch_id) with exactly-once bookkeeping from the
    checkpoint."""

    def start(df: DataFrame) -> StreamingQuery:
        w = df.writeStream.foreachBatch(fn)
        if checkpoint:
            w = w.option("checkpointLocation", checkpoint)
        return w.start()

    return start


# Module-level convenience mirroring the reference's bare `@handle`.
_default = Pipeline()


def handle(*sources: DataFrame, **kwargs):
    return _default.handle(*sources, **kwargs)
