"""Multimodal (image/audio/video) column plumbing.

Media travels as opaque ``binary`` columns with typed metadata —
the pattern for 100 TB multimodal training pipelines: Spark moves and
partitions the bytes, Arrow batches them into Python, and the decode /
feature kernels run vectorized per batch in ``mapInPandas``.

The actual codecs (PIL/ffmpeg/librosa) are NOT in this container, so
the decode kernel is stubbed: ``decode_stub=True`` (default) derives
deterministic fake features from the bytes; ``decode_stub=False``
raises NotImplementedError where the real library call belongs. The
Spark-side plumbing — schema, batch iteration, partition sizing —
is real and tested either way.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: canonical multimodal record: opaque payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("decode_error", T.StringType()),
    ]
)


def _stub_decode(kind: str, digest: bytes) -> dict:
    """Deterministic fake decode: features derived from the payload's
    sha256 digest so tests are stable. Replace with PIL/ffmpeg in a
    real deployment (NotImplementedError path below)."""
    width = 64 + digest[0] % 192 if kind in ("image", "video") else None
    height = 64 + digest[1] % 192 if kind in ("image", "video") else None
    duration = round(digest[2] / 8.0, 3) if kind in ("audio", "video") else None
    feature = [b / 255.0 for b in digest[:8]]
    return {"width": width, "height": height, "duration_s": duration, "feature": feature}


def extract_media_features(
    media: DataFrame, decode_stub: bool = True, num_partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA -> FEATURE_SCHEMA via Arrow-batched mapInPandas.

    Per-row decode failures populate ``decode_error`` (R2 quarantine
    semantics) instead of failing the task. ``num_partitions`` is a
    PARTITION COUNT (same knob as fetch_pages): repartitioning the
    payload bytes is a full shuffle of the dominant data, so set it
    only when the scan's partitioning genuinely can't hold a
    partition in executor memory — ``spark.sql.files.maxPartitionBytes``
    governs the scan side for free.
    """
    if num_partitions:
        media = media.repartition(num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                # hash ONCE: the digest is both the sha256 field and
                # the stub-decode feature source
                digest = hashlib.sha256(payload).digest()
                rec = {
                    "media_id": mid,
                    "kind": kind,
                    "n_bytes": len(payload),
                    "sha256": digest.hex(),
                    "width": None,
                    "height": None,
                    "duration_s": None,
                    "feature": None,
                    "decode_error": None,
                }
                try:
                    if not decode_stub:
                        raise NotImplementedError(
                            "real decode requires PIL/ffmpeg — not in this container"
                        )
                    rec.update(_stub_decode(kind, digest))
                except Exception as e:  # noqa: BLE001 — R2 row-level isolation
                    rec["decode_error"] = f"{type(e).__name__}: {e}"
                out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.mapInPandas(run, FEATURE_SCHEMA)


# executor-side importability: serialize this module's functions by
# value so mapInPandas closures never import the package on workers
from etl_guiacores_spark import shipping as _shipping  # noqa: E402
import sys as _sys  # noqa: E402

_shipping.register_udf_module(_sys.modules[__name__])
