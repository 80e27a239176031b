"""Golden/property tests for the pixel kernels (SURVEY.md §5 tier 1/3)."""

import numpy as np
import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import kernels as K


def _pixels(seed=7, h=33, w=47):
    return synth.make_pixels(seed, 1, h, w)


def test_png_roundtrip_exact():
    px = _pixels()
    assert (K.decode_png(K.encode_png(px)) == px).all()


def test_png_signature():
    assert K.encode_png(_pixels())[:8] == b"\x89PNG\r\n\x1a\n"


def test_jpeg_standin_psnr_above_gate():
    px = _pixels()
    out = K.decode_jpeg(K.encode_jpeg(px))
    assert K.psnr(px, out) >= 40.0  # BASELINE.json:15 invariant


def test_jpeg_rewrite_invariants():
    """The engine's 'repeated runs must match' invariant (SURVEY.md §2.9,
    graft of helper.py:401-410) under the REAL T.81 codec: (a) encode is
    deterministic — the same input bytes re-encode to identical output
    bytes, so re-running a rewrite job is byte-stable; (b) generational
    recompression loss is far above the 40 dB gate; (c) phash survives
    recompression (the Z-order key is stable across rewrites)."""
    px = _pixels()
    once = K.decode_jpeg(K.encode_jpeg(px))
    assert K.encode_jpeg(once) == K.encode_jpeg(once.copy())  # determinism
    twice = K.decode_jpeg(K.encode_jpeg(once))
    assert K.psnr(once, twice) >= 55.0
    assert K.phash64(once) == K.phash64(twice)


def test_psnr_identical_is_sentinel():
    px = _pixels()
    assert K.psnr(px, px) == 99.0


def test_phash_stability_under_lossy():
    px = _pixels()
    assert K.phash64(px) == K.phash64(K.decode_jpeg(K.encode_jpeg(px)))


def test_phash_differs_for_different_images():
    assert K.phash64(synth.make_pixels(1, 1, 32, 32)) != K.phash64(
        synth.make_pixels(1, 2, 32, 32)
    )


def test_phash_int64_range():
    v = K.phash64(_pixels())
    assert -(2**63) <= v < 2**63


def test_encode_unknown_fmt_raises():
    with pytest.raises(NotImplementedError):
        K.encode(_pixels(), "webp")


def test_corrupt_bytes_breaks_decode_or_pixels():
    row = synth.row_for(42, 3, hot_pct=0)
    bad = synth.corrupt_bytes(bytes(row["bytes"]), seed=99, i=3)
    try:
        px = K.decode(bad, row["fmt"])
        good = K.decode(bytes(row["bytes"]), row["fmt"])
        assert not (px == good).all()
    except Exception:
        pass  # undecodable is the expected common case


def test_synth_row_determinism():
    a = synth.row_for(42, 5)
    b = synth.row_for(42, 5)
    assert a == b
    c = synth.row_for(43, 5)
    assert bytes(a["bytes"]) != bytes(c["bytes"])


def test_synth_hot_keys():
    rows = [synth.row_for(42, i, hot_pct=5) for i in range(200)]
    hot = [r["phash"] for r in rows if (r["image_id"] and int(r["image_id"][4:]) % 100 < 5)]
    assert len(hot) == 10 and len(set(hot)) <= 3


def test_pixel_digest_stable():
    px = _pixels()
    assert K.pixel_digest(px) == K.pixel_digest(px.copy())


def test_resize_block_mean_exact():
    import numpy as np

    from nessie_spark.lakehouse import kernels as K

    # 4x4 -> 2x2: each output cell is the mean of a 2x2 block
    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    out = K.resize_block_mean(px, 2, 2)
    assert out.shape == (2, 2, 3)
    block = px[:2, :2, :].astype(float).mean(axis=(0, 1))
    assert np.allclose(out[0, 0], block.astype(np.uint8))


def test_video_container_roundtrip_and_gate():
    import numpy as np
    import pytest

    from nessie_spark.lakehouse import kernels as K

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, (6, 5, 3), dtype=np.uint8) for _ in range(7)]
    data = K.encode_video(frames)
    sampled = K.decode_video_frames(data, every_k=3)
    assert len(sampled) == 3  # frames 0, 3, 6
    assert np.array_equal(sampled[1], frames[3])
    with pytest.raises(NotImplementedError):
        K.decode_video_frames(b"\x00\x01\x02\x03real-mp4-bytes")


def test_audio_features_deterministic():
    import numpy as np

    from nessie_spark.lakehouse import kernels as K

    pcm = np.sin(np.linspace(0, 40 * np.pi, 4000)).astype(np.float32)
    rms, zc = K.audio_features(pcm)
    assert abs(rms - 0.7071) < 0.01
    assert zc == 39  # 40 half-periods; the t=0 sample is exactly 0.0


def test_zorder_key_numpy_twins_match_catalyst(spark):
    """The staged executor computes zkeys with numpy (morton32_np /
    order31_np / hilbert_np) while the sample pass uses the Catalyst
    expression / pandas UDF — the two MUST be bit-identical or staged
    buckets would disagree with the sampled boundaries."""
    import numpy as np
    from pyspark.sql import functions as F

    from nessie_spark.functions.core import (
        hilbert_key_udf, hilbert_np, morton32, morton32_np, order31, order31_np,
    )

    rng = np.random.default_rng(7)
    ph = rng.integers(-(2**62), 2**62, 500, dtype=np.int64)
    wh = rng.integers(0, 2**31, 500, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(ph, wh)], "phash long, wh long"
    )
    got = df.select(
        morton32(order31(F.col("phash")), F.col("wh")).alias("m"),
        hilbert_key_udf()(order31(F.col("phash")), F.col("wh")).alias("h"),
    ).collect()
    m_np = morton32_np(order31_np(ph), wh)
    h_np = hilbert_np(order31_np(ph), wh)
    assert [r["m"] for r in got] == m_np.tolist()
    assert [r["h"] for r in got] == h_np.tolist()
