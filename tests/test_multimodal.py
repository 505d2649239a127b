"""Multimodal binary-column plumbing: synth -> decode -> features ->
frame-sample -> resize, with the EDSM fake codec (real codecs stubbed,
see operators.multimodal._decode_image_real)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from edlib_spark.operators.multimodal import (_decode_image_real,
                                              decode_media,
                                              extract_feature_counts,
                                              media_from_documents,
                                              resize_images, sample_frames)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"doc text number {i} " + "lorem ipsum " * (i % 7))
            for i in range(30)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def media(docs):
    return media_from_documents(docs)


def test_media_schema_and_determinism(media):
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "payload"]
    assert media.schema["payload"].dataType.typeName() == "binary"
    a = sorted((r.media_id, bytes(r.payload)) for r in media.collect())
    b = sorted((r.media_id, bytes(r.payload)) for r in media.collect())
    assert a == b
    # kinds cycle deterministically
    kinds = {r.media_id: r.kind for r in media.collect()}
    assert kinds[0] == "image" and kinds[1] == "audio" and kinds[2] == "video"


def test_decode_round_trip(docs, media):
    decoded = {r.media_id: r for r in decode_media(media).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(decoded) == len(texts)
    for mid, row in decoded.items():
        assert row.n_payload_bytes == len(texts[mid].encode())
        if row.kind == "image":
            assert row.width == 32 + (mid % 8) * 16
            assert row.height == 32 + (mid % 5) * 24
            assert row.sample_rate is None and row.n_frames is None
        elif row.kind == "audio":
            assert row.sample_rate == 8000 + (mid % 4) * 8000
            assert row.width is None
        else:
            assert row.n_frames == 1 + mid % 60


def test_feature_counts_match_vectors(media):
    """Exploded (media_id, bin_idx, cnt) rows are dense (16 per media)
    and equal a per-payload numpy byte histogram over 16 equal bins."""
    n_media = media.count()
    rows = extract_feature_counts(media, n_bins=16).collect()
    assert len(rows) == n_media * 16
    hist = {}
    for r in rows:
        hist.setdefault(r.media_id, [0] * 16)[r.bin_idx] = r.cnt
    want = {r.media_id: np.bincount(
                np.frombuffer(bytes(r.payload), dtype=np.uint8) >> 4,
                minlength=16).tolist()
            for r in media.collect()}
    assert hist == want
    assert all(sum(counts) > 0 for counts in hist.values())


def test_frame_sampling(media):
    decoded = decode_media(media)
    frames = sample_frames(decoded, every=10)
    got = {}
    for r in frames.collect():
        got.setdefault(r.media_id, []).append(r.frame_idx)
    videos = {r.media_id: r.n_frames
              for r in decoded.where(F.col("kind") == "video").collect()}
    assert set(got) == set(videos)
    for mid, idxs in got.items():
        assert sorted(idxs) == list(range(0, videos[mid], 10))


def test_resize_planning(media):
    plans = resize_images(decode_media(media), max_side=64).collect()
    assert plans
    for r in plans:
        assert max(r.target_width, r.target_height) <= 64
        assert min(r.target_width, r.target_height) >= 1
        # aspect ratio preserved within rounding
        if r.width >= r.height:
            assert r.target_width == min(r.width, 64)
        else:
            assert r.target_height == min(r.height, 64)


def test_real_codec_is_clearly_stubbed():
    with pytest.raises(NotImplementedError):
        _decode_image_real(b"\x89PNG")
