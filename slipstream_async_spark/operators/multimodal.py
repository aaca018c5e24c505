"""Multimodal columns: image/audio/video as opaque ``BINARY`` + typed metadata.

The reference is schema-less — "Any-thing can be passed around as data"
(reference README.md:44-49, slipstream/core.py:676) — so binary media
payloads are in-scope capability-wise, but the reference has no media
handling of its own. This module defines the engine's first-class
treatment for a training-data pipeline at corpus scale:

- **data model**: one row per media object, ``payload BINARY`` carried
  opaquely next to a typed ``meta STRUCT`` (width/height/sample_rate/
  n_frames/...). At scale this is exactly what
  ``spark.read.format("binaryFile")`` or a parquet lake with a BLOB
  column produces; metadata lives in columns so Catalyst can prune and
  filter WITHOUT touching payload bytes (column pruning keeps the
  multi-KB..MB payload out of scans that don't need it).
- **slicing ops** (frame sampling, byte ranges) are pure JVM expressions
  (``substring`` on binary) — no Python, no payload copy amplification.
- **decode / feature-extract / resize** are Arrow-batched ``mapInPandas``
  stages: payload bytes reach Python as zero-copy Arrow buffers, numpy
  processes a whole batch vectorized, and output schemas are declared
  up-front. The actual codec call (PIL/librosa/av) is STUBBED — those
  libs are absent in this container — behind ``try: import`` with a
  clearly-marked deterministic fallback, so the Spark-side plumbing
  (schema, batching, partitioning) is real and tested while the codec is
  swappable.

Scale notes (100 TB of media):
- payloads dominate partition size: set
  ``spark.sql.files.maxPartitionBytes`` so one task holds O(100) payloads,
  and NEVER ``collect()`` payload columns.
- decode is CPU-bound Python: parallelism = input partitions, so
  ``repartition(n)`` before ``mapInPandas`` to saturate executors; the
  shuffle moves payload bytes once, then all per-byte work is vectorized
  in Arrow batches.
- metadata-only queries (counts, size stats, kind filters) must never
  read payload bytes — keep meta in separate columns (done here), not
  packed inside the blob.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

MEDIA_KINDS = ("image", "audio", "video")

#: Typed metadata carried beside the opaque payload. Unused fields are
#: NULL for a given kind (image: width/height/channels; audio:
#: sample_rate/n_samples; video: n_frames/frame_bytes).
MEDIA_META_TYPE = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("frame_bytes", IntegerType()),
    ]
)

FRAME_BYTES = 64  # fixed synthetic frame stride for the video kind


def attach_payloads(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic media table over the documents fixture.

    ``payload`` = UTF-8 bytes of the text (a stand-in for real media
    bytes — the pipeline treats it as opaque), ``kind`` cycles
    image/audio/video by id, ``meta`` is derived from payload size the
    way a real ingest would parse it from the container header. In
    production this DataFrame comes straight from
    ``spark.read.format("binaryFile")`` / a BLOB-column lake; everything
    downstream only assumes (media_id, kind, payload, meta).
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    n = F.octet_length(payload)
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    nframes = F.ceil(n / F.lit(FRAME_BYTES)).cast("int")
    meta = F.struct(
        F.when(kind == "image", (16 + n % 64).cast("int")).alias("width"),
        F.when(kind == "image", (16 + n % 48).cast("int")).alias("height"),
        F.when(kind == "image", F.lit(3)).alias("channels"),
        F.when(kind == "audio", F.lit(16000)).alias("sample_rate"),
        F.when(kind == "audio", n.cast("bigint")).alias("n_samples"),
        F.when(kind == "video", nframes).alias("n_frames"),
        F.when(kind == "video", F.lit(FRAME_BYTES)).alias("frame_bytes"),
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        meta.alias("meta"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Per-object metadata projection: size, content hash, typed dims.

    Pure JVM expressions; at scale this is the query pattern that must
    NOT decode anything — only payload-level hash/length plus meta
    columns (and the hash is the one full read; drop it and the scan
    prunes the payload column entirely).
    """
    return media.select(
        "media_id",
        "kind",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
    )


def sample_frames(media: DataFrame, every_k: int = 4) -> DataFrame:
    """Every k-th fixed-stride frame of video payloads as its own row.

    Frame extraction = ``substring`` on the binary payload (JVM-side,
    no Python): frame i covers bytes [i*stride, (i+1)*stride). Returns
    (media_id, frame_no, frame_len, frame_hex). The explode multiplies
    rows, not payload copies — each output row slices only its stride.
    At scale, prefer sampling (``every_k``) over full explode and
    project away ``payload`` immediately after (done here).
    """
    stride = F.col("meta.frame_bytes")
    frames = media.filter(F.col("kind") == "video").select(
        "media_id",
        "payload",
        stride.alias("stride"),
        F.explode(
            F.sequence(
                F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_k)
            )
        ).alias("frame_no"),
    )
    frame = F.substring(
        F.col("payload"), F.col("frame_no") * F.col("stride") + 1, F.col("stride")
    )
    return frames.select(
        "media_id",
        F.col("frame_no").cast("bigint").alias("frame_no"),
        F.octet_length(frame).cast("bigint").alias("frame_len"),
        F.hex(frame).alias("frame_hex"),
    )


# ---------------------------------------------------------------------------
# Arrow-batched decode path (mapInPandas)
# ---------------------------------------------------------------------------

DECODE_FEATURES_TYPE = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("mean_byte_x10000", LongType()),
        StructField("min_byte", IntegerType()),
        StructField("max_byte", IntegerType()),
        StructField("hist_csv", StringType()),
    ]
)

N_HIST_BINS = 16


def _decode_payload(kind: str, payload: bytes):
    """STUB decoder — the swap point for real codecs.

    A real deployment plugs PIL (image), soundfile/librosa (audio), or
    av (video) in here behind the same signature; none are installed in
    this container, so every kind falls back to the deterministic
    interpretation "payload = raw uint8 samples". The fallback is NOT a
    mock of the plumbing — batching, schema, and vectorized stats are
    identical either way; only the codec call is faked.
    """
    import numpy as np

    try:  # pragma: no cover - codec libs absent in this environment
        if kind == "image":
            import io

            from PIL import Image

            return np.asarray(Image.open(io.BytesIO(payload))).ravel()
        if kind == "audio":
            import io

            import soundfile

            data, _ = soundfile.read(io.BytesIO(payload), dtype="uint8")
            return np.asarray(data).ravel()
    except ImportError:
        pass
    return np.frombuffer(payload, dtype=np.uint8)



def _payload_stats(kind: str, payload: bytes) -> tuple:
    """Decode one payload and return its (n_bytes, mean_byte_x10000,
    min_byte, max_byte, hist_csv) statistics for ``decode_features``."""
    import numpy as np

    a = _decode_payload(kind, payload)
    n = int(a.size)
    hist = np.bincount(a // (256 // N_HIST_BINS), minlength=N_HIST_BINS)
    return (
        n,
        (10000 * int(a.sum())) // n if n else 0,
        int(a.min()) if n else 0,
        int(a.max()) if n else 0,
        ",".join(map(str, hist.tolist())),
    )

def decode_features(media: DataFrame) -> DataFrame:
    """Decode payloads and emit per-object byte/sample statistics +
    an ``N_HIST_BINS``-bin histogram — the feature-extraction stage of a
    media curation pipeline (e.g. filter corrupt/blank media before
    training).

    ``mapInPandas``: payloads arrive as Arrow-backed pandas batches;
    numpy does all per-byte work vectorized. Integer outputs only
    (mean scaled by 10^4 under exact floor division) so results are
    bit-identical across engines. Histogram is CSV-encoded counts —
    exact, order-fixed, engine-neutral.
    """

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for batch in it:
            out = {k: [] for k in (
                "media_id", "kind", "n_bytes", "mean_byte_x10000",
                "min_byte", "max_byte", "hist_csv",
            )}
            for mid, kind, payload in zip(
                batch["media_id"], batch["kind"], batch["payload"]
            ):
                n, mean_x, mn, mx, hist_csv = _payload_stats(
                    kind, bytes(payload)
                )
                out["media_id"].append(int(mid))
                out["kind"].append(kind)
                out["n_bytes"].append(n)
                out["mean_byte_x10000"].append(mean_x)
                out["min_byte"].append(mn)
                out["max_byte"].append(mx)
                out["hist_csv"].append(hist_csv)
            yield pd.DataFrame(out)

    return media.select("media_id", "kind", "payload").mapInPandas(
        _batches, DECODE_FEATURES_TYPE
    )


RESIZED_TYPE = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize every image payload to (width, height) — the normalize
    stage before vision training.

    Plumbing is real (Arrow batches in, BINARY out, declared schema);
    the resample itself is STUBBED: with PIL absent, the deterministic
    fallback tiles/truncates the decoded byte stream to exactly
    width*height samples (nearest-neighbor over a 1-D stream). Swap the
    body for ``Image.resize`` when PIL exists — signature and schema
    hold.
    """

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        target = width * height
        for batch in it:
            rows = {"media_id": [], "payload": [], "width": [], "height": []}
            for mid, kind, payload in zip(
                batch["media_id"], batch["kind"], batch["payload"]
            ):
                a = _decode_payload(kind, bytes(payload))
                if a.size == 0:
                    resized = np.zeros(target, dtype=np.uint8)
                else:
                    idx = (np.arange(target) * a.size) // target
                    resized = a[idx].astype(np.uint8)
                rows["media_id"].append(int(mid))
                rows["payload"].append(resized.tobytes())
                rows["width"].append(width)
                rows["height"].append(height)
            yield pd.DataFrame(rows)

    return media.filter(F.col("kind") == "image").mapInPandas(
        _batches, RESIZED_TYPE
    )


MEDIA_EMBED_TYPE = StructType(
    [
        StructField("media_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def embed_media(media: DataFrame, dim: int = N_HIST_BINS) -> DataFrame:
    """L2-normalized histogram embedding per media object — the bridge
    from binary payloads into the similarity/dedup operators
    (operators/similarity.py, operators/dedup.py): decode → fixed-dim
    vector, ready for cosine top-k or near-dup pairing.

    A real pipeline swaps the histogram for a model forward pass (same
    mapInPandas shape, GPU-scheduled via resource profiles); histogram
    keeps it deterministic here.
    """

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for batch in it:
            ids, vecs = [], []
            for mid, kind, payload in zip(
                batch["media_id"], batch["kind"], batch["payload"]
            ):
                a = _decode_payload(kind, bytes(payload))
                hist = np.bincount(
                    a // (256 // dim) if a.size else np.zeros(0, dtype=np.int64),
                    minlength=dim,
                ).astype(np.float64)
                norm = np.sqrt((hist * hist).sum())
                ids.append(int(mid))
                vecs.append((hist / norm if norm else hist).tolist())
            yield pd.DataFrame({"media_id": ids, "embedding": vecs})

    return media.select("media_id", "kind", "payload").mapInPandas(
        _batches, MEDIA_EMBED_TYPE
    )
