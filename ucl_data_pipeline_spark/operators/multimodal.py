"""Multimodal (image/audio/video) column processing.

Media are opaque ``binary`` columns with a typed metadata struct; all
decode / feature-extract / frame-sample operators run as
Arrow-batched ``mapInPandas`` — the sanctioned Python escape hatch
(vectorized batch transfer, never row-at-a-time UDFs). Partitioning,
schemas, UDF signatures and batch shapes are real and tested; the
actual codec calls are stubbed because no image/audio libraries exist
in this environment:

- With ``decoder="stub"`` (default) a deterministic fake decode runs —
  byte-level features that are stable across engines/runs.
- With ``decoder="pillow"``/``"ffmpeg"`` the operator import-tries the
  real library and raises ``NotImplementedError`` with a clear message
  if unavailable, without breaking the Spark plan shape.

Scale notes: blobs are large → these operators repartition by blob id
before the Python stage so Arrow batches stay bounded
(``maxRecordsPerBatch``), and metadata-only predicates (media_type,
n_bytes) are pushed down BEFORE decode so the expensive stage sees only
surviving rows.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("media_type", T.StringType()),  # image|audio|video
    T.StructField("payload", T.BinaryType()),
    T.StructField(
        "meta",
        T.StructType([
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("declared_format", T.StringType()),
        ]),
    ),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("byte_mean", T.DoubleType()),
    T.StructField("byte_entropy_proxy", T.DoubleType()),
    T.StructField("head_hash", T.StringType()),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_bytes", T.BinaryType()),
])


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table from ``documents`` (the
    container has no real media): payload = utf-8 bytes of the text,
    media_type cycles by doc_id. Exercises the binary column path
    end-to-end with reproducible content.
    """
    mt = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.encode("text", "utf-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        mt.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length("text").alias("n_bytes"),
            F.lit("raw").alias("declared_format"),
        ).alias("meta"),
    )


def _require(decoder: str) -> None:
    if decoder == "stub":
        return
    if decoder == "pillow":
        try:
            import PIL  # noqa: F401
            return
        except ImportError:
            raise NotImplementedError(
                "real image decode needs Pillow, which is not installed in "
                "this environment; use decoder='stub' (deterministic fake) "
                "or install Pillow on the cluster"
            ) from None
    if decoder == "ffmpeg":
        raise NotImplementedError(
            "real audio/video decode needs ffmpeg bindings; use "
            "decoder='stub' or install on the cluster"
        )
    raise ValueError(f"unknown decoder: {decoder}")


def extract_features(media: DataFrame, decoder: str = "stub") -> DataFrame:
    """Decode + featurize each blob via Arrow-batched mapInPandas.

    Stub decode computes byte-level stats (mean, distinct-byte entropy
    proxy, md5 of the first 64 bytes) — deterministic and
    engine-independent, standing in for pixel/sample features.
    """
    _require(decoder)

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = pdf["payload"]
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": payloads.map(len).astype("int32"),
                "byte_mean": payloads.map(
                    lambda b: float(np.frombuffer(b, dtype=np.uint8).mean())
                    if len(b) else 0.0
                ),
                "byte_entropy_proxy": payloads.map(
                    lambda b: float(
                        len(set(b)) / 256.0
                    )
                ),
                "head_hash": payloads.map(
                    lambda b: hashlib.md5(bytes(b[:64])).hexdigest()
                ),
            })
            yield out

    from ucl_data_pipeline_spark.sources.io import fan_out

    # Prune to the blob + key BEFORE the Python stage (metadata
    # predicates stay JVM-side), and fan out so Arrow batches decode on
    # every core rather than the single scan split.
    pruned = fan_out(media.select("media_id", "media_type", "payload"))
    return pruned.mapInPandas(batches, FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame, frame_size: int = 256, stride: int = 4
) -> DataFrame:
    """Frame-sampling for "video" blobs: split the payload into
    frame_size-byte chunks and keep every stride-th chunk — the real
    operator's plumbing (explode-to-frames with bounded fan-out); a
    codec would replace the chunker.
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                chunks = [
                    b[i: i + frame_size]
                    for i in range(0, len(b), frame_size)
                ]
                for k in range(0, len(chunks), stride):
                    ids.append(mid)
                    idxs.append(k)
                    frames.append(chunks[k])
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame_bytes": pd.Series(frames, dtype=object),
            })

    vids = media.filter(F.col("media_type") == "video").select(
        "media_id", "payload"
    )
    return vids.mapInPandas(batches, FRAME_SCHEMA)
