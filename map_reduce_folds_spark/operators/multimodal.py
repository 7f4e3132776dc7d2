"""Multimodal (image/audio/video) column plumbing (north-star GAP ops).

Media travel as opaque ``binary`` columns plus a typed metadata struct —
the lakehouse-standard layout (one row per asset; bytes inline below the
parquet row-group threshold, URI reference above it).  All Spark-side
plumbing here is real and tested: schemas, Arrow batch shape, partitioning,
UDF signatures.  Only the codec calls themselves are stubbed (the container
has no image library): ``decode_image`` raises
``NotImplementedError`` unless ``fake=True``, where a deterministic fake
decoder (derived from the bytes, stable across engines/runs) stands in so
the pipeline shape is exercisable end-to-end.

Scale notes: mapInPandas streams Arrow batches — per-batch memory is
(batch_rows × asset_size); cap ``spark.sql.execution.arrow.maxRecordsPerBatch``
when assets are MBs.  Feature extraction is embarrassingly parallel; no
shuffle until the downstream aggregation.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: canonical asset schema: media bytes + typed metadata
ASSET_SCHEMA = (
    "asset_id bigint, kind string, content binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

FEATURE_SCHEMA = (
    "asset_id bigint, kind string, n_bytes bigint, digest60 bigint, "
    "feat array<double>"
)


def to_assets(df: DataFrame, id_col: str, payload_col: str, kind: str) -> DataFrame:
    """Wrap an existing column's bytes as the canonical asset layout.
    (Fixtures have no media files, so tests derive assets from text bytes —
    the plumbing is identical.)"""
    return df.select(
        F.col(id_col).cast("bigint").alias("asset_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(payload_col), "utf-8").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _fake_decode(content: bytes, n_feat: int = 8) -> list[float]:
    """Deterministic stand-in for a real codec: n_feat doubles derived from
    the md5 of the bytes, each in [0, 1).  Stable across runs/engines."""
    out = []
    for i in range(n_feat):
        h = hashlib.md5(content + b"|%d" % i).digest()
        (v,) = struct.unpack(">Q", h[:8])
        out.append((v % 10**9) / 10**9)
    return out


def image_codec_available() -> bool:
    """Runtime capability probe: True when a real image codec (Pillow)
    is importable.  The real decode path lights up by itself if the
    environment gains the dependency — no code change needed."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def decode_image(content: bytes, fake: bool = False) -> list[float]:
    """Image decode → 8 luminance-histogram features.  Uses Pillow when
    the environment provides it (see :func:`image_codec_available`);
    otherwise the deterministic ``fake`` stand-in or a LOUD error —
    never a silent wrong answer."""
    if fake:
        return _fake_decode(content)
    if image_codec_available():
        import io

        import PIL.Image

        img = PIL.Image.open(io.BytesIO(content)).convert("L")
        hist = img.histogram()  # 256 bins
        tot = float(sum(hist)) or 1.0
        return [sum(hist[i * 32:(i + 1) * 32]) / tot for i in range(8)]
    raise NotImplementedError(
        "image codec not available in this environment (pip install "
        "Pillow to light up the real path, or pass fake=True)")


def extract_features(assets: DataFrame, n_feat: int = 8, fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction over asset batches.

    Emits (asset_id, kind, n_bytes, digest60, feat) — digest60 doubles as
    the exact-dedup key for binary assets.  The Arrow batch loop is the
    production shape; only the decode call is faked."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, digests, sizes = [], [], []
            for content in pdf["content"]:
                raw = bytes(content)
                feats.append(decode_image(raw, fake=fake)[:n_feat])
                digests.append(
                    int(hashlib.md5(raw).hexdigest()[:15], 16)
                )
                sizes.append(len(raw))
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "kind": pdf["kind"],
                "n_bytes": sizes,
                "digest60": digests,
                "feat": feats,
            })

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample(assets: DataFrame, every_n_bytes: int = 64, max_frames: int = 16) -> DataFrame:
    """Video-style frame sampling shape: explode each asset into "frame"
    rows (here: fixed-stride byte windows — the real codec would seek
    keyframes).  Demonstrates the 1→N explode layout downstream models use.
    Pure Catalyst: substring over binary, posexplode."""
    n_frames = F.least(
        F.floor(F.length("content") / every_n_bytes).cast("int"), F.lit(max_frames)
    )
    idx = F.sequence(F.lit(0), n_frames - 1)
    return (
        assets.filter(F.length("content") >= every_n_bytes)
        .select(
            "asset_id",
            F.posexplode(idx).alias("frame_idx", "_i"),
            F.col("content"),
        )
        .select(
            "asset_id", "frame_idx",
            F.col("content").substr(
                F.col("_i") * every_n_bytes + 1, F.lit(every_n_bytes)
            ).alias("frame_bytes"),
        )
    )
