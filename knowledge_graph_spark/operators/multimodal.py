"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the media itself is an opaque
``binary`` column (or an object-store URI) riding next to typed metadata;
decode / feature-extract / resize / frame-sample run as Arrow-batched
pandas UDFs over ``mapInPandas`` so each task streams batches without
materializing the whole partition.

The decode libraries (PIL/ffmpeg/librosa) are NOT in this container, so
the decode kernel is stubbed two ways:

- ``decode_stub=True`` (default): a deterministic fake that derives
  metadata (width/height/duration/fingerprint) from the md5 of the
  payload — the Spark-side plumbing (schema, batching, partitioning, UDF
  signature) is real and oracle-checkable end-to-end.
- ``decode_stub=False``: raises NotImplementedError at the exact seam
  where a real decoder plugs in.

``attach_payload`` manufactures the binary column from the documents
table (utf-8 bytes of the text) so the driver's parquet is the only data
source — no external media needed for tests/bench.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_TYPES = ["image", "audio", "video"]

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("fingerprint", T.StringType()),
    ]
)


def attach_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents → (doc_id, media_type, payload: binary).  media_type
    cycles deterministically on doc_id."""
    mt = F.element_at(
        F.array(*[F.lit(m) for m in MEDIA_TYPES]), (F.col(id_col) % 3 + 1).cast("int")
    )
    return docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        mt.alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def _fake_decode(doc_id: int, media_type: str, payload: bytes) -> dict:
    """Deterministic metadata from md5(payload) — the decode stand-in.
    Arithmetic mirrors the SQL oracle: ints from hex nibbles of the md5."""
    h = hashlib.md5(payload).hexdigest()
    w = 64 + int(h[:4], 16) % 1984  # 64..2047
    ht = 64 + int(h[4:8], 16) % 1984
    dur = int(h[8:14], 16) % 600_000  # <10 min
    return {
        "doc_id": doc_id,
        "media_type": media_type,
        "n_bytes": len(payload),
        "width": w if media_type in ("image", "video") else 0,
        "height": ht if media_type in ("image", "video") else 0,
        "duration_ms": dur if media_type in ("audio", "video") else 0,
        "fingerprint": h,
    }


def extract_media_meta(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """(doc_id, media_type, payload) → typed metadata via mapInPandas.

    Batch shape: the iterator yields one output frame per Arrow batch —
    constant memory per task regardless of partition size."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not decode_stub:
                raise NotImplementedError(
                    "real media decoding requires PIL/ffmpeg/librosa; "
                    "run with decode_stub=True in this environment"
                )
            rows = [
                _fake_decode(r.doc_id, r.media_type, bytes(r.payload))
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in META_SCHEMA.fields])

    return media.mapInPandas(gen, schema=META_SCHEMA)


def frame_sample_plan(meta: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per (doc_id, frame_ts_ms) —
    the explode that downstream frame decoders would consume.  Native
    sequence/explode; bounded by duration."""
    v = meta.filter(F.col("media_type") == "video")
    return v.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
