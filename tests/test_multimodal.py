"""Multimodal plumbing: binary columns through Arrow-batched decode."""

from __future__ import annotations

from etl_guiacores_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_media_features,
)


def make_media(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNG fake bytes", {"src": "a"}),
        (2, "audio", "audio/wav", b"RIFF fake", {}),
        (3, "video", "video/mp4", b"\x00mp4 fake", {"duration_s": "3.5"}),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


class TestMediaFeatures:
    def test_stub_decode_deterministic(self, spark):
        media = make_media(spark)
        a = {r["media_id"]: r for r in extract_media_features(media).collect()}
        b = {r["media_id"]: r for r in extract_media_features(media).collect()}
        assert a[1]["sha256"] == b[1]["sha256"]
        assert a[1]["feature"] == b[1]["feature"]
        assert a[1]["width"] is not None and a[1]["duration_s"] is None
        assert a[2]["duration_s"] is not None and a[2]["width"] is None
        assert all(r["decode_error"] is None for r in a.values())

    def test_real_decode_path_quarantines(self, spark):
        got = extract_media_features(make_media(spark), decode_stub=False).collect()
        assert all("NotImplementedError" in r["decode_error"] for r in got)
        # plumbing still produced byte-level features
        assert all(r["n_bytes"] > 0 and r["sha256"] for r in got)
