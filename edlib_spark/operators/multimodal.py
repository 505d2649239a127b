"""Multimodal (image/audio/video) column plumbing for training-data
pipelines: opaque ``binary`` payload columns with typed metadata,
decoded / feature-extracted / frame-sampled via Arrow-batched
``mapInPandas`` kernels.

The container has no real codec libraries (PIL / librosa / av), so the
actual pixel/sample decode is STUBBED: ``_decode_image_real`` raises a
clearly-marked NotImplementedError, and the pipeline runs on a
deterministic fake format (EDSM) whose payloads are synthesized JVM-side
from the ``documents`` table.  Everything Spark-side — the binary
schema, the mapInPandas signature, Arrow batch iteration, partitioning,
and the downstream explode/aggregate plumbing — is real and tested, and
the decode results are cross-checked against a DuckDB SQL oracle that
recomputes the same metadata arithmetic from ``documents``.

EDSM payload layout (all UTF-8 bytes):
    b"EDSM|<kind>|<width>|<height>|<sample_rate>|<n_frames>|<body>"
where <body> is the source document text (opaque media bytes stand-in).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

KINDS = ("image", "audio", "video")

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("payload", BinaryType()),
])

DECODED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("n_payload_bytes", LongType()),
])

FEATURE_COUNTS_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("bin_idx", IntegerType()),
    StructField("cnt", LongType()),
])

_N_FEATURE_BINS = 16


def _decode_image_real(payload: bytes):
    """Real image decode — unavailable in this container.

    A production deployment swaps this for ``PIL.Image.open`` /
    ``cv2.imdecode`` over the same bytes; the Spark-side plumbing
    (binary column in, struct row out, Arrow batching) is unchanged.
    """
    raise NotImplementedError(
        "real image decoding requires PIL/opencv, which are not installed; "
        "the pipeline uses the deterministic EDSM fake format instead")


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic media table derived from ``documents``
    entirely JVM-side: media_id = doc_id, kind cycles image/audio/video,
    payload = EDSM header + the document text encoded as UTF-8 bytes.

    Metadata formulas (the oracle recomputes these in SQL):
      width       = 32 + (media_id % 8) * 16       (image only)
      height      = 32 + (media_id % 5) * 24       (image only)
      sample_rate = 8000 + (media_id % 4) * 8000   (audio only)
      n_frames    = 1 + media_id % 60              (video only)
    """
    mid = F.col("doc_id").cast("bigint")
    kind = F.element_at(F.array(*[F.lit(k) for k in KINDS]),
                        (mid % 3 + 1).cast("int"))
    width = F.when(kind == "image", 32 + (mid % 8) * 16)
    height = F.when(kind == "image", 32 + (mid % 5) * 24)
    sample_rate = F.when(kind == "audio", 8000 + (mid % 4) * 8000)
    n_frames = F.when(kind == "video", 1 + mid % 60)
    header = F.concat_ws(
        "|", F.lit("EDSM"), kind,
        F.coalesce(width.cast("string"), F.lit("0")),
        F.coalesce(height.cast("string"), F.lit("0")),
        F.coalesce(sample_rate.cast("string"), F.lit("0")),
        F.coalesce(n_frames.cast("string"), F.lit("0")),
        # NULL text must become an EMPTY body, not a dropped field:
        # concat_ws silently drops NULLs, which would leave a 6-part
        # payload that the decoder rejects (and that no SQL oracle can
        # reconstruct the same way)
        F.coalesce(F.col("text"), F.lit("")))
    return docs.select(mid.alias("media_id"), kind.alias("kind"),
                       F.encode(header, "UTF-8").alias("payload"))


def _parse_edsm(payload) -> tuple:
    """Parse one EDSM payload (the fake-decode stand-in for a codec)."""
    if payload is None:
        return (None, None, None, None, None, 0)
    b = bytes(payload)
    parts = b.split(b"|", 6)
    if len(parts) != 7 or parts[0] != b"EDSM":
        raise ValueError("not an EDSM payload")
    kind = parts[1].decode()
    width, height, rate, frames = (int(parts[i]) for i in range(2, 6))
    return (kind, width or None, height or None, rate or None,
            frames or None, len(parts[6]))


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode: (media_id, kind, payload) ->
    (media_id, kind, width, height, sample_rate, n_frames,
    n_payload_bytes).  The per-payload parse is the codec stand-in; a
    real deployment calls the codec in its place (see
    ``_decode_image_real``)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [_parse_edsm(p) for p in pdf["payload"]]
            out = pd.DataFrame(parsed, columns=[
                "kind", "width", "height", "sample_rate", "n_frames",
                "n_payload_bytes"])
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return media.mapInPandas(decode, DECODED_SCHEMA)


def extract_feature_counts(media: DataFrame,
                           n_bins: int = _N_FEATURE_BINS) -> DataFrame:
    """Byte-histogram features (the feature-extraction stand-in): one
    row per (media_id, bin_idx) carrying the raw count of payload bytes
    in that bin (``n_bins`` equal bins over 0..255), dense (zero bins
    included) so the row set per media is exactly ``n_bins`` wide.
    Integer counts keep the result hashable and SQL-oracle-able;
    ``cnt / sum(cnt) over media_id`` is the normalized feature vector.

    The whole Arrow batch is histogrammed in one vectorized pass: all
    payloads are concatenated into a single uint8 array and binned with
    one ``np.bincount`` over ``owner * n_bins + (byte >> shift)``.
    """
    shift = int(np.log2(256 // n_bins))

    def counts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            payloads = [bytes(p) if p is not None else b""
                        for p in pdf["payload"]]
            lens = np.fromiter((len(p) for p in payloads),
                               dtype=np.int64, count=n)
            if n and lens.sum():
                allb = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                owner = np.repeat(np.arange(n, dtype=np.int64), lens)
                hist = np.bincount(owner * n_bins + (allb >> shift),
                                   minlength=n * n_bins)
            else:
                hist = np.zeros(n * n_bins, dtype=np.int64)
            yield pd.DataFrame({
                "media_id": np.repeat(pdf["media_id"].to_numpy(), n_bins),
                "bin_idx": np.tile(np.arange(n_bins, dtype=np.int32), n),
                "cnt": hist,
            })

    return media.mapInPandas(counts, FEATURE_COUNTS_SCHEMA)


def sample_frames(decoded: DataFrame, every: int = 10) -> DataFrame:
    """Frame sampling for video media: one row per sampled frame index
    (0, every, 2*every, ... < n_frames) — pure Catalyst explode over the
    decoded metadata, no Python."""
    return (decoded.where(F.col("kind") == "video")
            .select("media_id",
                    F.explode(F.sequence(
                        F.lit(0), F.col("n_frames") - 1,
                        F.lit(every))).alias("frame_idx")))


def resize_images(decoded: DataFrame, max_side: int = 64) -> DataFrame:
    """Resize planning for image media: target dims preserving aspect
    ratio with the longer side clamped to ``max_side``.  The dimension
    arithmetic is Catalyst-side; the pixel resample itself would run in
    the decode kernel (stubbed, see ``_decode_image_real``)."""
    longer = F.greatest("width", "height")
    scale_num = F.least(longer, F.lit(max_side))
    return (decoded.where(F.col("kind") == "image")
            .select("media_id", "width", "height",
                    F.greatest(F.floor(F.col("width") * scale_num / longer),
                               F.lit(1)).cast("int").alias("target_width"),
                    F.greatest(F.floor(F.col("height") * scale_num / longer),
                               F.lit(1)).cast("int").alias("target_height")))
