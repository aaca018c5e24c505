"""Streaming ANN enrichment: a stream of query vectors is enriched
with top-k neighbors from a MATERIALIZED IVF index — the operational
read path of the write-once/probe-many index
(operators.similarity.ivf_index_write): the index is built offline,
every arriving micro-batch probes it, and only the probed lists'
parquet partitions are scanned (dynamic partition pruning on list_id).

Reference parity: the cookbook's enrichment-join pattern (a handler
looks each arriving event up against a prepared RocksDB cache and
emits the enriched event). The prepared cache here is the IVF index
directory; the per-event lookup is a per-batch index probe.

Scale: per micro-batch cost is |batch queries| x (n_probe / n_lists)
of the corpus — never a full scan; results land in a StateTable
through the epoch fence every sink in this package shares, so a
replayed epoch no-ops (exactly-once results and changelog).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slipstream_async_spark.operators.similarity import (
    MAPSIDE_MAX_LISTS,
    _ivf_score_probes,
    _probes_generic,
    centroid_array_literal,
    ivf_index_read,
    ivf_probes_mapside,
)
from slipstream_async_spark.streaming.state import StateTable, _EpochFence


def ann_enrich_sink(
    index_path: str,
    results: StateTable,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function probing a materialized IVF index for each
    arriving query vector and upserting ``query_id -> "id:cosine,..."``
    (neighbors in rank order) into ``results``. Use with
    ``foreach_batch_sink`` on a ``Pipeline`` flow.

    Per-trigger fixed cost is held down two ways, both set up ONCE on
    the first micro-batch and reused across triggers (the index is
    write-once by contract — ivf_index_write — so reuse cannot go
    stale): (1) the centroid table (n_lists rows, bounded by
    construction) is collected driver-side and inlined into a MAP-SIDE
    probe-selection expression (ivf_probes_mapside) — no per-trigger
    centroid read, no crossJoin+window shuffle, no centroid broadcast
    build; (2) the assignments DataFrame (schema already resolved) is
    reused, so no per-trigger parquet schema-inference pass runs.

    Epoch-fenced under the fence query ``"ann_enrich"`` like
    :func:`~slipstream_async_spark.streaming.state.foreach_batch_upsert`:
    a replayed epoch commits no duplicate version or changelog events.
    """
    frames: dict[str, tuple] = {}
    fence = _EpochFence("ann_enrich", {"results": results})

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        if not fence.pending(e):
            return  # replayed epoch — its commit already landed
        if "idx" not in frames:
            cents, assigned = ivf_index_read(
                batch_df.sparkSession, index_path
            )
            rows = [
                (r["cent_id"], list(r["cent_vec"])) for r in cents.collect()
            ]
            # size cutover (similarity.MAPSIDE_MAX_LISTS): up to the
            # cutover, the bounded collect + ONE literal Column build
            # makes every later trigger's probe selection shuffle-free
            # (expression construction crosses py4j; rebuilding n_lists
            # x dim literals per trigger is a measured ~0.7 s of pure
            # driver overhead). Beyond it — the 4k-64k lists a 100 TB
            # corpus wants — the literal would bloat every serialized
            # plan, so the cached centroid FRAME feeds the generic
            # crossJoin+window lane instead (parity-tested identical).
            if len(rows) <= MAPSIDE_MAX_LISTS:
                frames["idx"] = (centroid_array_literal(rows), assigned)
            else:
                frames["idx"] = (cents.cache(), assigned)
        cent_side, assigned = frames["idx"]
        q = batch_df.select(
            F.col(query_id_col), F.col(vec_col)
        ).dropDuplicates([query_id_col])
        if isinstance(cent_side, DataFrame):
            probes = _probes_generic(
                q, cent_side, n_probe, vec_col, query_id_col
            )
        else:
            probes = ivf_probes_mapside(
                q,
                cent_side,
                n_probe,
                vec_col=vec_col,
                query_id_col=query_id_col,
            )
        topk = _ivf_score_probes(
            assigned, probes, k, id_col, vec_col, query_id_col
        )
        per_q = (
            topk.groupBy(query_id_col)
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    (-F.col("cosine")).alias("nc"),
                                    F.col(id_col).alias("nid"),
                                    F.col("cosine").alias("c"),
                                )
                            )
                        ),
                        # explicit %.6f: Spark's double->string cast
                        # flips to scientific notation for |x|<1e-3
                        # ('1.0E-4'), which would make the payload
                        # format magnitude-dependent and engine-
                        # specific; a fixed format keeps the
                        # StateTable value stable for any consumer
                        lambda s: F.concat_ws(
                            ":", s["nid"], F.format_string("%.6f", s["c"])
                        ),
                    ),
                    ",",
                ).alias("value")
            )
        )
        fence.commit(
            e,
            {"results": per_q.select(
                F.col(query_id_col).cast("string").alias("key"), "value"
            )},
        )

    return sink
