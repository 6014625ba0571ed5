"""Multimodal (image/audio/video) column handling.

Design for a 100 TB training-data lake: media lives as opaque
``binary`` columns with a typed metadata struct alongside (width,
height, sample rate, frame count) — never parsed by Catalyst, sliced
and decoded only inside Arrow-batched Python stages (mapInPandas), so
the bytes move driver-free from scan to UDF with columnar batching.

The decode step itself is STUBBED: this container has no image/audio
codecs (no PIL/cv2/torchaudio), so ``decode_media`` uses a
deterministic byte-statistics fake when the real library is missing
(import-try gate).  Everything AROUND the decode — the schemas, the
mapInPandas signatures, the batch shapes, the partition behavior, the
frame slicing — is real and tested; swapping in a real codec changes
only the marked function body.

Reference parity: the reference treats SBOM archives as opaque bytes
too (ZIP sniffing at /root/reference/lib/mend.sh:278-311 and
/root/reference/lib/wiz.sh:150-231); this module is the generalized,
distributed version of that pattern.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except Exception:
    _HAS_PIL = False


MEDIA_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

MODALITIES = ["image", "audio", "video"]

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from the documents corpus
    (no binary fixture tables exist): content = UTF-8 bytes of the text,
    modality = doc_id mod 3, plausible metadata.  Pure Column
    expressions, so it is also DuckDB-oracle-expressible."""
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(48).alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(F.col("doc_id"), F.lit(8)) + 2).cast("int").alias("n_frames"),
            F.lit("raw").alias("format"),
        ).alias("meta"),
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Decode/feature-extract each media row (Arrow-batched mapInPandas).

    Real plumbing: batches arrive as pandas DataFrames per partition,
    features are computed vectorized per batch, output schema is fixed
    (FEATURES_SCHEMA).  The features are a deterministic codec-free
    stand-in for a real decode: a 16-bin byte histogram, normalized.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            contents = pdf["content"]
            n_bytes = contents.map(lambda b: len(b) if b is not None else 0)
            feats = []
            means = []
            for b in contents:
                arr = np.frombuffer(b or b"", dtype=np.uint8)
                means.append(float(arr.mean()) if arr.size else 0.0)
                if arr.size:
                    hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(
                        "float64"
                    )
                    feats.append((hist / arr.size).tolist())
                else:
                    feats.append([0.0] * FEATURE_DIM)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": n_bytes.astype("int64"),
                    "byte_mean": means,
                    "features": feats,
                }
            )

    return media.mapInPandas(decode_batches, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    formats: list[str] | None = None,
) -> DataFrame:
    """Resize image rows to (width, height) via Arrow-batched mapInPandas.

    Two decode kernels behind the format switch:

    - ``raw`` (the synthetic corpus, and any pre-decoded pixel buffer):
      REAL nearest-neighbor resampling in numpy over a meta.width ×
      meta.height single-channel buffer — no codec needed.  Content
      shorter than w·h is zero-padded (opaque-bytes contract: decode
      never throws on short rows, it degrades deterministically).
    - encoded formats (png/jpeg/...): requires PIL; with no codec in
      the environment the plan FAILS FAST at build time rather than
      raising per-row across 10^9 tasks.

    ``formats`` declares the media formats present (from the caller's
    catalog/partition metadata).  When provided, the codec gate is
    decided without touching the data; only when the caller does not
    know the formats does the gate fall back to a distinct-scan of
    ``meta.format`` — at 100 TB that fallback is a full extra pass, so
    production callers should always declare.
    """
    if formats is None:
        formats = [r["fmt"] for r in media.select(
            F.col("meta.format").alias("fmt")
        ).distinct().collect()]
    encoded = [f for f in formats if f != "raw"]
    if encoded and not _HAS_PIL:
        raise NotImplementedError(
            f"resize_media over encoded formats {encoded} requires an image "
            "codec (PIL), which is not available in this environment; "
            "'raw' buffers resize codec-free"
        )

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out_content = []
            for _, row in pdf.iterrows():
                meta = row["meta"]
                if meta["format"] == "raw":
                    w, h = int(meta["width"]), int(meta["height"])
                    buf = np.zeros(w * h, dtype=np.uint8)
                    src = np.frombuffer(row["content"] or b"", dtype=np.uint8)
                    buf[: min(src.size, w * h)] = src[: w * h]
                    img = buf.reshape(h, w)
                    ys = (np.arange(height) * h // height).clip(0, h - 1)
                    xs = (np.arange(width) * w // width).clip(0, w - 1)
                    out_content.append(img[np.ix_(ys, xs)].tobytes())
                else:  # pragma: no cover - needs PIL, absent here
                    from io import BytesIO

                    from PIL import Image

                    im = Image.open(BytesIO(row["content"])).resize(
                        (width, height), Image.NEAREST
                    )
                    out_content.append(np.asarray(im, dtype=np.uint8).tobytes())
            meta_out = [
                {**m, "width": width, "height": height} for m in pdf["meta"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "content": out_content,
                    "meta": meta_out,
                }
            )

    images = media.where(F.col("modality") == "image")
    return images.mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, k: int = 2) -> DataFrame:
    """Deterministically sample up to ``k`` evenly-spaced 'frames' from
    each video row by byte-slicing content into meta.n_frames chunks —
    the real frame-extraction dataflow (explode to one row per frame,
    partition-parallel) with byte slicing standing in for a codec."""

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs = [], [], []
            for _, row in pdf.iterrows():
                content = row["content"] or b""
                n_frames = max(int(row["meta"]["n_frames"] or 1), 1)
                frame_len = max(len(content) // n_frames, 1)
                take = min(k, n_frames)
                # evenly spaced frame indices, deterministic
                step = max(n_frames // take, 1) if take else 1
                for j in range(take):
                    fi = min(j * step, n_frames - 1)
                    start = fi * frame_len
                    ids.append(row["media_id"])
                    idxs.append(fi)
                    blobs.append(content[start : start + frame_len])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_bytes": blobs}
            )

    videos = media.where(F.col("modality") == "video")
    return videos.mapInPandas(frame_batches, schema=FRAMES_SCHEMA)
