"""Multimodal-column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed through Arrow-batched ``mapInPandas``.

The Spark-side architecture is real and tested — schemas, partition-preserving
batch iteration, UDF signatures, output contracts. The actual media decode is
STUBBED: this container has no image/audio libraries, so ``mode="real"``
raises NotImplementedError at the decode call site, and ``mode="fake"`` runs a
deterministic md5-based pseudo-decoder with the same shapes a real decoder
(PIL / torchaudio / pyav) would produce. Swapping in a real decoder touches
only ``_fake_decode`` — the distributed plumbing is unchanged.

At 100 TB: payloads stay in executor-local Arrow batches end to end (never
collected), batch size is bounded by ``spark.sql.execution.arrow
.maxRecordsPerBatch``, and feature extraction parallelism is the source
partitioning — repartition upstream by a size-balancing key when payload
sizes are skewed.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# canonical media-table schema: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_FIELDS = [
    T.StructField("payload_bytes", T.LongType()),
    T.StructField("content_digest", T.StringType()),
    T.StructField("feature_vec", T.ArrayType(T.FloatType())),
]


def _fake_decode(payload: bytes, dim: int = 8) -> dict[str, Any]:
    """Deterministic pseudo-decoder: digest + an md5-derived feature vector
    with the shape a real embedding extractor would return."""
    digest = hashlib.md5(payload or b"").hexdigest()
    raw = hashlib.md5(digest.encode()).digest()
    vec = [round(b / 255.0, 6) for b in raw[:dim]]
    return {
        "payload_bytes": len(payload or b""),
        "content_digest": digest,
        "feature_vec": vec,
    }


def _real_decode(payload: bytes, dim: int = 8) -> dict[str, Any]:
    """Real image decode via pillow (optional dependency): digest + a
    grayscale mean-pool feature vector. Import happens lazily on the
    executor; callers reach this only through ``mode="real"``."""
    from PIL import Image  # noqa: PLC0415 — optional, executor-side
    import io

    digest = hashlib.md5(payload or b"").hexdigest()
    img = Image.open(io.BytesIO(payload)).convert("L").resize((dim, dim))
    px = list(img.getdata())
    # mean-pool each row of the dim×dim thumbnail → dim floats in [0, 1]
    vec = [
        round(sum(px[r * dim : (r + 1) * dim]) / (dim * 255.0), 6)
        for r in range(dim)
    ]
    return {
        "payload_bytes": len(payload or b""),
        "content_digest": digest,
        "feature_vec": vec,
    }


def real_decoder_available() -> bool:
    try:
        import PIL  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


def extract_media_features(
    df: DataFrame, payload_col: str = "payload", mode: str = "fake"
) -> DataFrame:
    """Arrow-batched feature extraction over a binary payload column.

    Output: all input columns plus FEATURE_FIELDS. ``mode="real"`` decodes
    with pillow when it is installed (optional dependency — not present in
    the stock container) and raises NotImplementedError otherwise;
    ``mode="fake"`` is the deterministic stub that keeps a value oracle.
    """
    import pandas as pd

    out_schema = T.StructType(list(df.schema.fields) + FEATURE_FIELDS)

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if mode == "real":
                if not real_decoder_available():
                    raise NotImplementedError(
                        "real media decode requires pillow, which is not "
                        "installed; use mode='fake' for the deterministic stub"
                    )
                decode = _real_decode
            else:
                decode = _fake_decode
            feats = pdf[payload_col].map(decode)
            pdf = pdf.assign(
                payload_bytes=feats.map(lambda d: d["payload_bytes"]),
                content_digest=feats.map(lambda d: d["content_digest"]),
                feature_vec=feats.map(lambda d: d["feature_vec"]),
            )
            yield pdf

    return df.mapInPandas(fn, out_schema)


def sample_frames(
    df: DataFrame, every_n: int = 10, payload_col: str = "payload"
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame index, frame
    payload stubbed as a sliced digest of the source payload. Real decoder
    would emit actual frame bytes; row-explosion shape is identical."""
    n_frames = F.coalesce(F.col("meta.n_frames"), F.lit(0))
    idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
    out = df.where(n_frames > 0).select(
        "media_id",
        F.explode(idx).alias("frame_idx"),
        F.sha2(F.concat(F.col(payload_col).cast("string"), F.lit("#")), 256).alias(
            "frame_digest"
        ),
    )
    return out.withColumn(
        "frame_digest",
        F.sha2(F.concat(F.col("frame_digest"), F.col("frame_idx").cast("string")), 256),
    )
