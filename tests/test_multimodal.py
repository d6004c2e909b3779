"""Multimodal plumbing: schemas, deterministic synth, stubbed decode,
feature extraction batch shapes, resize roundtrip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_export_tool_python_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    return M.synth_media(spark, n=60).cache()


def test_media_schema_and_determinism(spark, media):
    assert media.count() == 60
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    a = media.orderBy("media_id").collect()
    b = M.synth_media(spark, n=60, partitions=7).orderBy("media_id").collect()
    assert a == b


def test_feature_extraction(spark, media):
    feats = M.extract_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 60
    for mid, r in rows.items():
        assert r["feat_dim"] == len(r["feat"])
        if r["kind"] == "image":
            assert r["feat_dim"] == 5  # 3 channel means + 2 dims
            assert all(0.0 <= x <= 1.5 for x in r["feat"])
        elif r["kind"] == "audio":
            assert r["feat_dim"] == 2
        else:
            assert r["feat_dim"] == 2
            assert r["feat"][0] == 4.0  # 16 frames sampled every 4


def test_image_payload_is_decodable(media):
    rows = media.where(F.col("kind") == "image").collect()
    for r in rows:
        meta = r["meta"]
        arr = M._decode_image_stub(bytes(r["payload"]), meta.asDict())
        assert arr.shape == (meta["height"], meta["width"], meta["channels"])


def test_corrupt_payload_raises(media):
    r = media.where(F.col("kind") == "image").first()
    with pytest.raises(ValueError, match="corrupt"):
        M._decode_image_stub(bytes(r["payload"])[:-1], r["meta"].asDict())


class TestRealCodecs:
    """BMP and WAV are fully specified layouts — the decoders are REAL
    (pure numpy), not stubs: round-trips are exact."""

    def test_bmp_roundtrip_exact(self):
        import numpy as np

        from osm_export_tool_python_spark.operators.multimodal import (
            decode_bmp, encode_bmp)

        rng = np.random.default_rng(7)
        for w, h in [(5, 3), (8, 8), (1, 1), (6, 2)]:  # incl. padded rows
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            assert np.array_equal(decode_bmp(encode_bmp(img)), img)

    def test_bmp_rejects_garbage(self):
        import numpy as np
        import pytest

        from osm_export_tool_python_spark.operators.multimodal import decode_bmp

        with pytest.raises(ValueError):
            decode_bmp(b"\x00" * 100)

    def test_wav_roundtrip_exact(self):
        import numpy as np

        from osm_export_tool_python_spark.operators.multimodal import (
            decode_wav, encode_wav)

        rng = np.random.default_rng(11)
        s = rng.integers(-32768, 32767, size=333, dtype=np.int16)
        got, rate = decode_wav(encode_wav(s, 22050))
        assert rate == 22050 and np.array_equal(got, s)


def test_wav_content_sums_batch_matches_per_file():
    """Vectorized batch summer == per-file real decode, including the
    fallback for a non-canonical WAV (extra chunk before 'data')."""
    import numpy as np

    from osm_export_tool_python_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        wav_content_sums_batch,
    )

    rng = np.random.default_rng(9)
    payloads = []
    for i in range(17):
        ns = int(rng.integers(1, 200))
        samples = rng.integers(-32768, 32768, ns).astype(np.int16)
        payloads.append(encode_wav(samples, sample_rate=8000 + i))
    # non-canonical: junk chunk between fmt and data (still a valid WAV)
    base = bytearray(payloads[3])
    junk = b"LIST" + (4).to_bytes(4, "little") + b"ABCD"
    odd = bytes(base[:36]) + junk + bytes(base[36:])
    odd = bytearray(odd)
    odd[4:8] = (len(odd) - 8).to_bytes(4, "little")  # fix RIFF size
    payloads.append(bytes(odd))

    got = wav_content_sums_batch(payloads)
    want = np.array(
        [int(decode_wav(p)[0].astype(np.int64).sum()) for p in payloads]
    )
    assert (got == want).all()
