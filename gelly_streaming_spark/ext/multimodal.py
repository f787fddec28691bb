"""Multimodal (image/audio/video) column plumbing (north-star extension).

Media payloads are opaque ``binary`` columns with a typed metadata struct
(``MEDIA_SCHEMA``). Decode / feature-extract / resize / frame-sample run
as Arrow-batched ``mapInPandas`` stages, so payload bytes never
round-trip through the driver and batches stay columnar end-to-end.

The engine ships no codec. The caller injects one:

- ``decoder(payload: bytes, kind: str) -> (width, height, n_frames,
  feature)`` for ``extract_features`` and ``frame_sample``; its four
  values become one ``FEATURE_SCHEMA`` row;
- ``resizer(payload: bytes, width: int, height: int) -> bytes`` for
  ``resize_media``; it sees only ``kind == 'image'`` rows, and its
  output replaces the payload and ``meta.bytes``.

The callables run inside Python workers, so they must be picklable.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType()),
                    T.StructField("mime", T.StringType()),
                    T.StructField("bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def extract_features(
    media: DataFrame, decoder: Callable[[bytes, str], tuple]
) -> DataFrame:
    """Decode + feature-extract each media row via Arrow-batched
    mapInPandas. Partitioning: payloads stay where they were scanned —
    no shuffle; each task streams batches through the decoder."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "kind": [], "width": [], "height": [],
                "n_frames": [], "feature": [],
            }
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                w, h, nf, feat = decoder(bytes(payload), kind)
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["feature"].append(feat)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes],
) -> DataFrame:
    """Batch image resize via Arrow-batched mapInPandas: payloads are
    transformed in place (meta.bytes updated), never touching the driver
    and never shuffling — the stage fuses onto the scan, so at 100 TB it
    is a pure map over whatever partitioning the source already has.

    Only ``kind == 'image'`` rows are resized; audio/video rows (legal in
    MEDIA_SCHEMA's mixed table) pass through untouched instead of feeding
    the image resizer a non-image payload and failing the whole stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            new_payloads = [
                resizer(bytes(p), width, height) if kind == "image" else p
                for kind, p in zip(pdf["kind"], pdf["payload"])
            ]
            pdf = pdf.assign(payload=new_payloads)
            pdf["meta"] = [
                {**(m or {}), "bytes": len(p)}
                for m, p in zip(pdf["meta"], new_payloads)
            ]
            yield pdf

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def frame_sample(
    media: DataFrame, decoder: Callable[[bytes, str], tuple], every_n: int = 10
) -> DataFrame:
    """Video frame-sampling plan: explode every ``every_n``-th frame index
    of each video, with the frame count taken from ``decoder``.

    The kind filter runs BEFORE the decode stage: Spark cannot push a
    filter below mapInPandas, so filtering after extract_features paid
    full payload-decode cost for every non-video row of a mixed table."""
    feats = extract_features(media.where(F.col("kind") == "video"), decoder)
    return feats.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))).alias("frame_idx"),
    )
