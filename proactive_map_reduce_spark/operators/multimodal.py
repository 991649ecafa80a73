"""Multimodal column plumbing (north-star extras).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata. The Spark-side plumbing — schema, Arrow batch shape, mapInPandas
signature, partition inheritance — is real and tested; the actual media
decode is STUBBED (no media decode library is a dependency): the default
codec is the deterministic fake codec, which derives pseudo metadata from
the payload hash so results are value-checkable.

Codec seam (pinned by tests/test_multimodal_codec.py): a codec is any
``(payload bytes, media_type) -> {width, height, n_frames}`` callable
passed as ``extract_features(codec=...)``. It runs inside the Arrow batch
loop, so swapping in a real decoder changes ZERO plan nodes — same single
narrow mapInPandas stage, same schema, no exchange.

Scale notes: payloads stay in executor memory only for the lifetime of an
Arrow batch (`maxRecordsPerBatch` bounds it); feature extraction is a
narrow mapInPandas stage — no shuffle, no driver transfer. At 100 TB the
binary column lives in its own parquet column chunk, so metadata-only
queries never read the payload bytes (column pruning).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import zipcache

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload_len", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def attach_payload(df: DataFrame) -> DataFrame:
    """Synthesize a binary payload column from text (fixture stand-in for a
    real media column) plus a media_type tag."""
    return df.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
    )


def fake_decode(payload: bytes, media_type: str) -> dict:
    """Deterministic stand-in codec: metadata derived from the payload hash
    (same values as the SQL oracle computes from md5)."""
    h = int(hashlib.md5(payload).hexdigest()[:8], 16)
    return {
        "width": h % 1920 if media_type != "audio" else 0,
        "height": (h // 1920) % 1080 if media_type != "audio" else 0,
        "n_frames": h % 300 if media_type == "video" else 1,
    }


def extract_features(
    df: DataFrame, codec: Callable[[bytes, str], dict] = fake_decode
) -> DataFrame:
    """mapInPandas feature extraction over (doc_id, payload, media_type)."""

    _missing = {"width": None, "height": None, "n_frames": None}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zipcache.install()
        for batch in batches:
            # a NULL payload is a missing/corrupt asset: keep the row
            # (joins don't silently lose the doc) with null metadata —
            # the quarantine pattern; callers filter on payload_md5
            metas = [
                codec(bytes(p), m) if p is not None else _missing
                for p, m in zip(batch["payload"], batch["media_type"])
            ]
            # nullable Int64 keeps None as null through Arrow (a plain
            # list would coerce to float NaN, which LongType rejects)
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": batch["media_type"],
                    "payload_len": pd.array(
                        [
                            len(bytes(p)) if p is not None else None
                            for p in batch["payload"]
                        ],
                        dtype="Int64",
                    ),
                    "payload_md5": [
                        hashlib.md5(bytes(p)).hexdigest() if p is not None else None
                        for p in batch["payload"]
                    ],
                    "width": pd.array([m["width"] for m in metas], dtype="Int64"),
                    "height": pd.array([m["height"] for m in metas], dtype="Int64"),
                    "n_frames": pd.array(
                        [m["n_frames"] for m in metas], dtype="Int64"
                    ),
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("out_width", T.LongType()),
        T.StructField("out_height", T.LongType()),
        T.StructField("out_payload", T.BinaryType()),
    ]
)


def fake_resize(payload: bytes, w: int, h: int) -> tuple[int, int, bytes]:
    """Stand-in resize: scale to at most 512 wide with integer aspect
    math; the 'resized' payload is a deterministic tag (real codec would
    re-encode). out_h = h * out_w // w — same integer division in the SQL
    oracle."""
    if w <= 0:
        return 0, 0, b""
    out_w = min(w, 512)
    out_h = h * out_w // w
    return out_w, out_h, b"resized:%d:%d" % (out_w, out_h)


def resize_media(
    df: DataFrame, codec: Callable[[bytes, str], dict] = fake_decode
) -> DataFrame:
    """Resize stage over (doc_id, payload, media_type) via mapInPandas,
    to a width of at most 512.

    Audio rows pass through with 0×0 dims. A real implementation swaps
    fake_decode/fake_resize for PIL/ffmpeg inside the same batch loop;
    schema, Arrow batch shape and partition inheritance stay identical.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zipcache.install()
        for batch in batches:
            rows = {k: [] for k in RESIZE_SCHEMA.fieldNames()}
            for doc_id, p, m in zip(batch["doc_id"], batch["payload"], batch["media_type"]):
                if p is None:  # missing asset → null row (see extract_features)
                    meta = {"width": None, "height": None}
                    ow = oh = op = None
                else:
                    meta = codec(bytes(p), m)
                    ow, oh, op = fake_resize(bytes(p), meta["width"], meta["height"])
                rows["doc_id"].append(doc_id)
                rows["media_type"].append(m)
                rows["width"].append(meta["width"])
                rows["height"].append(meta["height"])
                rows["out_width"].append(ow)
                rows["out_height"].append(oh)
                rows["out_payload"].append(op)
            for c in ("width", "height", "out_width", "out_height"):
                rows[c] = pd.array(rows[c], dtype="Int64")  # None-safe ints
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=RESIZE_SCHEMA)


def sample_frames(features: DataFrame) -> DataFrame:
    """Frame sampling for video rows: one output row per 30th frame.

    Pure built-in explode over `sequence` — the frame *extraction* (the
    stubbed decode) happens downstream per sampled frame id, so at scale
    the expensive decode touches only sampled frames, not all of them.
    """
    vids = features.filter(
        (F.col("media_type") == "video") & (F.col("n_frames") > 0)
    )
    return vids.select(
        "doc_id",
        F.col("n_frames"),
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(30))
        ).alias("frame_id"),
    )
