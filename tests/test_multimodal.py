"""Multimodal plumbing tests: the Spark-side machinery (schemas, Arrow
batches, explode layout) is real; codecs are stubbed deterministically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_folds_spark.operators import multimodal as M
from map_reduce_folds_spark.sources import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def assets(spark):
    d = load_table(spark, SF_DIR, "documents")
    return M.to_assets(d, "doc_id", "text", "image").cache()


def test_asset_schema(assets):
    assert assets.schema.simpleString() == (
        "struct<asset_id:bigint,kind:string,content:binary,"
        "meta:struct<width:int,height:int,sample_rate:int,n_frames:int>>"
    )


def test_extract_features_deterministic(assets):
    f1 = M.extract_features(assets, fake=True).orderBy("asset_id").collect()
    f2 = M.extract_features(assets, fake=True).orderBy("asset_id").collect()
    assert [r.feat for r in f1] == [r.feat for r in f2]
    assert all(len(r.feat) == 8 and all(0 <= v < 1 for v in r.feat) for r in f1)
    assert all(r.n_bytes > 0 for r in f1)


def test_real_codec_probe_or_stub():
    """Capability probe: in codec-less environments the real path raises
    LOUDLY; when Pillow is present the probe reports True and decode
    produces 8 features without code changes."""
    if M.image_codec_available():
        import io

        import PIL.Image

        buf = io.BytesIO()
        PIL.Image.new("L", (4, 4), color=128).save(buf, format="PNG")
        assert len(M.decode_image(buf.getvalue())) == 8
    else:
        with pytest.raises(NotImplementedError):
            M.decode_image(b"xx", fake=False)


def test_frame_sample_layout(assets):
    frames = M.frame_sample(assets, every_n_bytes=64, max_frames=16)
    per = frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.length("frame_bytes")).alias("minlen"),
        F.max(F.length("frame_bytes")).alias("maxlen"),
        F.max("frame_idx").alias("maxidx"),
    ).collect()
    for r in per:
        assert 1 <= r.n <= 16
        assert r.minlen == r.maxlen == 64  # full windows only
        assert r.maxidx == r.n - 1  # contiguous frame indices

    # digest dedup key: identical payload -> identical digest
    feats = M.extract_features(assets.limit(5), fake=True).collect()
    assert len({r.asset_id for r in feats}) == 5
