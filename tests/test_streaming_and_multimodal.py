"""Streaming ingest + multimodal plumbing smoke tests."""

from __future__ import annotations

import os

import pytest

from lightrag_spark.plans.kg_build import KGBuildConfig


def test_stream_chunk_extract(spark, tmp_path):
    from lightrag_spark.sources.pages import synthesize_pages
    from lightrag_spark.streaming.incremental import stream_chunk_extract

    pages_dir = str(tmp_path / "pages")
    synthesize_pages(spark, 20, seed=3, min_words=30, max_words=200).write.parquet(pages_dir)

    # The stream extracts under the build's config: with a 1-token
    # gleaning budget no gleaning pass runs, so no pass-1 response is
    # cached (build_kg caches none either).
    cfg = KGBuildConfig(
        chunk_token_size=48, chunk_overlap_token_size=8, max_gleaning=1,
        max_extract_input_tokens=1,
    )
    q = stream_chunk_extract(
        spark, pages_dir, str(tmp_path / "records"), str(tmp_path / "ckpt"), cfg
    )
    q.awaitTermination(300)
    recs = spark.read.parquet(str(tmp_path / "records"))
    assert recs.filter("kind = 'entity'").count() > 0
    assert recs.filter("kind = 'relation'").count() > 0
    assert recs.filter("kind = 'cache' AND rec_order = 1").count() == 0
    assert recs.filter("kind = 'cache'").count() > 0

    # incremental: add more pages, rerun availableNow — only the new backlog
    # is processed (checkpoint carries the offset state)
    more_dir = os.path.join(pages_dir, "more.parquet")
    synthesize_pages(spark, 8, seed=4, min_words=30, max_words=100).write.mode(
        "overwrite"
    ).parquet(more_dir + ".tmpdir")
    # move one file set in as new arrivals
    import glob
    import shutil

    for i, f in enumerate(glob.glob(more_dir + ".tmpdir/*.parquet")):
        shutil.copy(f, os.path.join(pages_dir, f"more-{i}.parquet"))
    n_before = recs.count()
    q2 = stream_chunk_extract(
        spark, pages_dir, str(tmp_path / "records"), str(tmp_path / "ckpt"), cfg
    )
    q2.awaitTermination(300)
    n_after = spark.read.parquet(str(tmp_path / "records")).count()
    assert n_after > n_before


def test_multimodal_metadata(spark):
    from lightrag_spark.operators.multimodal import (
        decode_image_meta,
        dedup_media_by_hash,
        extract_media_metadata,
    )

    rows = [
        {"media_id": f"m{i}", "kind": "image", "payload": bytes([i % 7] * (100 + i))}
        for i in range(20)
    ] + [
        {"media_id": "dup1", "kind": "image", "payload": b"same-bytes"},
        {"media_id": "dup2", "kind": "image", "payload": b"same-bytes"},
        {"media_id": "a1", "kind": "audio", "payload": b"\x00\x01"},
    ]
    media = spark.createDataFrame(rows)
    meta = extract_media_metadata(media, fake_decode=True)
    got = {r["media_id"]: r.asDict() for r in meta.collect()}
    assert len(got) == 23
    assert got["m0"]["format"] in ("png", "jpeg", "webp")
    assert got["m0"]["n_bytes"] == 100
    assert got["a1"]["width"] is None  # non-image kinds skip the stub decode
    dups = dedup_media_by_hash(meta).collect()
    assert len(dups) == 1 and dups[0]["dup_count"] == 2

    # the real (non-fake) decode is an explicit stub
    with pytest.raises(NotImplementedError):
        decode_image_meta(b"bytes", fake=False)


def test_multimodal_resize_and_frame_sampling(spark):
    """Resize + video frame-sample plumbing: schemas, fan-out shape, and
    the honest NotImplementedError without fake mode."""
    import pytest

    from lightrag_spark.operators.multimodal import (
        resize_images,
        resize_kernel,
        sample_video_frames,
    )

    media = spark.createDataFrame(
        [("m1", "image", bytearray(b"\x89PNG fake one")),
         ("m2", "video", bytearray(b"\x00\x00ftyp fake two"))],
        "media_id string, kind string, payload binary",
    )
    resized = resize_images(media, 128, 96, fake_decode=True).collect()
    assert {r.media_id for r in resized} == {"m1", "m2"}
    assert all(r.width == 128 and r.height == 96 for r in resized)
    assert all(len(bytes(r.payload)) >= 16 for r in resized)
    # deterministic: same payload -> same surrogate
    again = resize_images(media, 128, 96, fake_decode=True).collect()
    assert {bytes(r.payload) for r in again} == {bytes(r.payload) for r in resized}

    frames = sample_video_frames(
        media.filter("kind = 'video'"), every_ms=500, max_frames=8, fake_decode=True
    ).collect()
    assert 1 <= len(frames) <= 8
    assert [f.frame_idx for f in sorted(frames, key=lambda f: f.frame_idx)] == list(
        range(len(frames))
    )
    assert all(f.ts_ms == f.frame_idx * 500 for f in frames)
    assert len({f.frame_hash for f in frames}) == len(frames)

    with pytest.raises(Exception, match="NotImplementedError|resize requires"):
        resize_images(media, 64, 64, fake_decode=False).collect()
    with pytest.raises(NotImplementedError):
        resize_kernel(b"x", 10, 10, fake=False)
