"""Multimodal plumbing: the Y4M video codec and the frame-sampling decode."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestMultimodal:
    def test_y4m_roundtrip_and_rejects(self, spark):
        """Real Y4M codec: encode -> decode is bit-exact (frames, dims,
        fps); malformed streams fail loudly."""
        import numpy as np
        import pytest

        from rad_ecg_spark.functions.multimodal import y4m_decode, y4m_encode

        rng = np.random.default_rng(7)
        frames = rng.integers(0, 256, size=(5, 6, 8), dtype=np.uint8)
        payload = y4m_encode(frames).replace(b" F25:1 ", b" F30:1 ", 1)
        w, h, fps, got = y4m_decode(payload)
        assert (w, h, fps) == (8, 6, (30, 1))
        assert np.array_equal(got, frames)
        with pytest.raises(ValueError, match="YUV4MPEG2"):
            y4m_decode(b"RIFF not a y4m stream\n")
        with pytest.raises(ValueError, match="colourspace"):
            y4m_decode(b"YUV4MPEG2 W2 H2 F25:1 C420\nFRAME\n" + b"\0" * 6)
        with pytest.raises(ValueError, match="truncated"):
            y4m_decode(payload[:-1])

    def test_video_frame_luma_matches_numpy(self, spark):
        """Distributed frame-sampling decode equals a local numpy decode
        of the same deterministic fixture."""
        import numpy as np

        from rad_ecg_spark.functions.multimodal import (
            synth_event_y4m,
            video_frame_luma,
        )

        ev = spark.range(0, 200).select(F.col("id").alias("event_id"))
        media = synth_event_y4m(ev, n_ids=6, n_frames=12, h=6, w=8)
        got = {
            (r["media_id"], r["frame_idx"]): r["luma_sum"]
            for r in video_frame_luma(media, every_n=5).collect()
        }
        f = np.arange(12, dtype=np.int64)[:, None, None]
        r_ = np.arange(6, dtype=np.int64)[None, :, None]
        c = np.arange(8, dtype=np.int64)[None, None, :]
        for mid in range(6):
            luma = (mid * 7 + f * 41 + r_ * 13 + c * 31) % 256
            for fi in (0, 5, 10):
                assert got[(mid, fi)] == int(luma[fi].sum())
        assert len(got) == 18
