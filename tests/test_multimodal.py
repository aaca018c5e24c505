"""Unit tests for the multimodal binary-column pipeline
(operators/multimodal.py): golden values on tiny in-test payloads, plus
the Arrow/mapInPandas plumbing paths that have no SQL oracle
(resize_images, embed_media).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from slipstream_async_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        # doc_id % 3: 0->image, 1->audio, 2->video
        (0, "abcd" * 40),        # image, 160 bytes
        (1, "hello world"),      # audio, 11 bytes
        (2, "x" * 200),          # video, 200 bytes -> 4 frames of <=64
        (5, "frame" * 64),       # video, 320 bytes -> 5 frames
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return MM.attach_payloads(docs)


def test_attach_payloads_schema_and_meta(media):
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[0]["kind"] == "image" and rows[1]["kind"] == "audio"
    assert rows[2]["kind"] == "video" and rows[5]["kind"] == "video"
    assert bytes(rows[1]["payload"]) == b"hello world"
    assert rows[0]["meta"]["width"] == 16 + 160 % 64
    assert rows[0]["meta"]["height"] == 16 + 160 % 48
    assert rows[1]["meta"]["n_samples"] == 11
    assert rows[2]["meta"]["n_frames"] == math.ceil(200 / 64)
    # meta fields of other kinds are NULL (typed sparse struct)
    assert rows[0]["meta"]["n_frames"] is None
    assert rows[2]["meta"]["width"] is None


def test_media_metadata_hash(media):
    out = {r["media_id"]: r for r in MM.media_metadata(media).collect()}
    assert out[1]["payload_md5"] == hashlib.md5(b"hello world").hexdigest()
    assert out[1]["n_bytes"] == 11


def test_sample_frames_golden(media):
    out = MM.sample_frames(media, every_k=2).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    # 200 bytes -> frames 0..3, every 2nd -> 0, 2; frame 2 is bytes 128..192
    assert [r["frame_no"] for r in sorted(by_id[2], key=lambda r: r["frame_no"])] == [0, 2]
    f2 = next(r for r in by_id[2] if r["frame_no"] == 2)
    assert f2["frame_len"] == 64
    assert f2["frame_hex"] == ("x" * 64).encode().hex().upper()
    # 320 bytes -> frames 0..4, every 2nd -> 0, 2, 4
    assert sorted(r["frame_no"] for r in by_id[5]) == [0, 2, 4]
    # non-video kinds excluded
    assert set(by_id) == {2, 5}


def test_decode_features_golden(media):
    out = {r["media_id"]: r for r in MM.decode_features(media).collect()}
    payload = b"hello world"
    assert out[1]["n_bytes"] == 11
    assert out[1]["mean_byte_x10000"] == (10000 * sum(payload)) // 11
    assert out[1]["min_byte"] == min(payload)
    assert out[1]["max_byte"] == max(payload)
    hist = [0] * 16
    for b in payload:
        hist[b // 16] += 1
    assert out[1]["hist_csv"] == ",".join(map(str, hist))


def test_resize_images_stub_plumbing(media):
    out = MM.resize_images(media, width=8, height=4).collect()
    # only the image row survives the kind filter
    assert [r["media_id"] for r in out] == [0]
    r = out[0]
    assert (r["width"], r["height"]) == (8, 4)
    payload = bytes(r["payload"])
    assert len(payload) == 8 * 4
    # deterministic nearest-neighbor over the byte stream
    src = ("abcd" * 40).encode()
    expect = bytes(src[(i * len(src)) // 32] for i in range(32))
    assert payload == expect


def test_embed_media_normalized(media):
    out = {r["media_id"]: r["embedding"] for r in MM.embed_media(media).collect()}
    assert set(out) == {0, 1, 2, 5}
    for vec in out.values():
        assert len(vec) == MM.N_HIST_BINS
        assert abs(sum(v * v for v in vec) - 1.0) < 1e-9
    # embeddings feed the similarity operators directly
    emb_df = MM.embed_media(media).withColumnRenamed("media_id", "vec_id")
    from slipstream_async_spark.operators import similarity as SIM

    q = emb_df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = SIM.brute_force_topk(emb_df, q, k=2).collect()
    ids = [r["vec_id"] for r in top]
    assert 0 not in ids and len(ids) == 2  # self-match excluded
    cosines = [r["cosine"] for r in top]
    assert cosines == sorted(cosines, reverse=True)
