"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Required by the north-star brief. The container has no image/audio codecs,
so the *decode* step is stubbed (NotImplementedError for real decoding, a
deterministic fake for tests/oracle); the Spark-side plumbing — schema,
partition-parallel batch iteration, UDF signatures, Arrow batch shapes — is
real and tested. Swapping in PIL/librosa/pyav later only changes the body of
``_decode_payload``.

Scale notes: media payloads should be size-bucketed before ``mapInPandas``
(`spark.sql.execution.arrow.maxRecordsPerBatch` bounds rows per Arrow batch,
but bytes-per-batch is controlled by partitioning); decode is CPU-bound and
embarrassingly parallel — no shuffle anywhere in this pipeline.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("fake_width", T.LongType(), True),
        T.StructField("fake_height", T.LongType(), True),
    ]
)


def _decode_payload(payload: bytes, media_type: str) -> dict:
    """STUB decode. Real decoding (PIL/librosa/pyav) is unavailable in this
    container; this deterministic fake derives 'features' from the raw bytes
    so the pipeline is end-to-end testable and oracle-checkable."""
    n = len(payload)
    return {
        "byte_len": n,
        "content_hash": hashlib.md5(payload).hexdigest(),
        "fake_width": n % 640,
        "fake_height": n % 480,
    }


def decode_image(payload: bytes):  # pragma: no cover - documented stub
    """Real image decode — requires PIL, not in this container."""
    raise NotImplementedError("image decoding requires PIL (not installed)")


def decode_audio(payload: bytes):  # pragma: no cover - documented stub
    raise NotImplementedError("audio decoding requires librosa (not installed)")


def sample_frames(payload: bytes, every_n: int = 10):  # pragma: no cover
    raise NotImplementedError("video decoding requires pyav (not installed)")


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas``: each partition arrives as an iterator of Arrow-backed
    pandas batches; per-batch vectorized work, constant memory."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                _decode_payload(p if p is not None else b"", mt)
                for p, mt in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "media_type", pdf["media_type"].values)
            yield out[[f.name for f in FEATURES_SCHEMA.fields]]

    return media.mapInPandas(batches, FEATURES_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat the documents table's text as opaque media payloads
    (deterministic media_type from doc_id) — the test/oracle corpus."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map(
            F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")
        ).alias("meta"),
    )


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.LongType(), False),
        T.StructField("frame_ts_ms", T.LongType(), False),
        T.StructField("frame_hash", T.StringType(), False),
    ]
)


def _fake_frame_count(n_bytes: int) -> int:
    """STUB duration probe: a real container would read the stream header
    (pyav) for duration/fps; the deterministic fake derives a 1-5 frame
    sample count from the payload size so the fan-out plumbing is
    end-to-end testable and oracle-checkable."""
    return 1 + n_bytes % 5


def frame_index(media: DataFrame) -> DataFrame:
    """Video frame sampling through ``mapInPandas``: one video row fans
    out to N frame rows (frame number, timestamp, content-derived frame
    hash) — the 1->N Arrow batch shape real frame extraction uses
    (extract_features is the 1->1 shape). Decode is the documented stub
    (sample_frames raises without pyav); the fake frame hash is
    md5(content_hash ':' frame_no) so every emitted cell is
    deterministic and the whole fan-out hash-checks against a
    generate_series oracle.

    Scale: the type filter prunes before the Python boundary, batches
    stay Arrow-sized, and the fan-out is bounded (<= 5 rows/video here;
    real samplers bound it by sample rate) — no shuffle anywhere."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in FRAMES_SCHEMA.fields]
        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = p if p is not None else b""
                chash = hashlib.md5(raw).hexdigest()
                for fno in range(_fake_frame_count(len(raw))):
                    rows.append(
                        (
                            mid,
                            fno,
                            fno * 1000,
                            hashlib.md5(
                                f"{chash}:{fno}".encode()
                            ).hexdigest(),
                        )
                    )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("media_type") == "video").mapInPandas(
        batches, FRAMES_SCHEMA
    )
