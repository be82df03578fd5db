from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw = multimodal.attach_payload(docs, id_col="doc_id", text_col="text")
    return multimodal.extract_metadata(raw)


def test_decode_fills_metadata(media):
    rows = media.collect()
    assert len(rows) == 500
    assert all(64 <= r["width"] < 256 and 64 <= r["height"] < 256 for r in rows)
    imgs = [r for r in rows if r["media_type"] == "image"]
    assert imgs and all(r["n_frames"] == 1 for r in imgs)
    vids = [r for r in rows if r["media_type"] == "video"]
    assert vids and all(r["n_frames"] >= 1 for r in vids)


def _ppm(w, h, rgb=None):
    rgb = rgb if rgb is not None else bytes((x * 7) % 256 for x in range(w * h * 3))
    return multimodal.encode_ppm(w, h, rgb)


def _bmp24(w, h, rgb):
    """Hand-packed uncompressed 24-bit bottom-up BMP from RGB triples."""
    import struct

    stride = (w * 3 + 3) & ~3
    pixel_bytes = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up row order
        row = bytearray()
        for x in range(w):
            r, g, b = rgb[(y * w + x) * 3 : (y * w + x) * 3 + 3]
            row += bytes((b, g, r))
        row += b"\x00" * (stride - len(row))
        pixel_bytes += row
    off = 14 + 40
    return (
        b"BM"
        + struct.pack("<IHHI", off + len(pixel_bytes), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                      len(pixel_bytes), 2835, 2835, 0, 0)
        + bytes(pixel_bytes)
    )


def _wav_pcm16(n_frames, channels=2, rate=8000):
    import struct

    data = b"\x01\x00" * (n_frames * channels)
    block = channels * 2
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                rate * block, block, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _ppmv(w, h, n):
    return multimodal.PPMV_MAGIC + b"".join(_ppm(w, h) for _ in range(n))


def test_real_decode_formats():
    """The stdlib codec decodes real bytes: PNM + BMP geometry, WAV
    frame counts, PPMV frame walks; undecodable magic raises (never a
    plausible fake — that is decode_stub's job)."""
    assert multimodal.real_decode(_ppm(8, 5), "image") == {
        "width": 8, "height": 5, "n_frames": 1
    }
    ascii_pgm = b"P2\n# comment\n3 2\n255\n0 1 2 3 4 5\n"
    assert multimodal.real_decode(ascii_pgm, "image") == {
        "width": 3, "height": 2, "n_frames": 1
    }
    rgb = bytes(range(7 * 3 * 3))
    assert multimodal.real_decode(_bmp24(7, 3, rgb), "image") == {
        "width": 7, "height": 3, "n_frames": 1
    }
    wav = multimodal.real_decode(_wav_pcm16(1000), "audio")
    assert wav["n_frames"] == 1000
    assert multimodal.real_decode(_ppmv(4, 4, 12), "video") == {
        "width": 4, "height": 4, "n_frames": 12
    }
    with pytest.raises(ValueError):
        multimodal.real_decode(b"\x89PNG\r\n", "image")


def test_wav_lying_data_size_clamped():
    """A WAV whose data-chunk size field claims more bytes than the
    payload holds must report frames from the bytes actually present
    (never-trust-the-header, same policy as the PPMV walk)."""
    import struct

    wav = bytearray(_wav_pcm16(100))
    # find the data chunk and inflate its size field 10x
    pos = 12
    while pos + 8 <= len(wav):
        cid = bytes(wav[pos:pos + 4])
        size = struct.unpack_from("<I", wav, pos + 4)[0]
        if cid == b"data":
            struct.pack_into("<I", wav, pos + 4, size * 10)
            break
        pos += 8 + size + (size & 1)
    out = multimodal.real_decode(bytes(wav), "audio")
    assert out["n_frames"] == 100


def test_real_decode_pixel_roundtrip():
    """Pixel access is real: BMP(bottom-up, padded rows) and P6 decode
    to the SAME RGB layout; mean RGB is exact."""
    rgb = bytes((x * 11) % 256 for x in range(6 * 4 * 3))
    w, h, got = multimodal.decode_image_pixels(_bmp24(6, 4, rgb))
    assert (w, h, got) == (6, 4, rgb)
    w, h, got = multimodal.decode_image_pixels(_ppm(6, 4, rgb))
    assert (w, h, got) == (6, 4, rgb)

    const = bytes([10, 200, 30]) * (16 * 8)
    assert multimodal.image_mean_rgb(_ppm(16, 8, const)) == (10.0, 200.0, 30.0)


def test_real_decode_distributed(spark):
    """The real codec runs where it will in production — inside an
    Arrow-batched mapInPandas stage: ``synthesize_decode_roundtrip``
    decodes P6 images (even ids) and PPMV videos (odd ids) back to the
    geometry, frame count and colour they were written with."""
    ids = spark.range(12).withColumnRenamed("id", "media_id")
    got = {
        r["media_id"]: (r["media_kind"], r["width"], r["height"], r["n_frames"], r["mean_r"])
        for r in multimodal.synthesize_decode_roundtrip(ids, "media_id").collect()
    }
    assert got == {
        i: (
            "image" if i % 2 == 0 else "video",
            4 + i % 13, 3 + i % 7,
            1 if i % 2 == 0 else 1 + i % 5,
            float(i % 256),
        )
        for i in range(12)
    }


def test_resize_preserves_aspect(media):
    out = multimodal.resize_media(media).collect()
    for r in out:
        assert max(r["resized_width"], r["resized_height"]) == 128
        ar_in = r["width"] / r["height"]
        ar_out = r["resized_width"] / r["resized_height"]
        assert abs(ar_in - ar_out) / ar_in < 0.05


def test_frame_sampling(media, spark):
    frames = multimodal.sample_frames(media)
    joined = frames.join(media.select("media_id", "media_type", "n_frames"), "media_id")
    per_video = (
        joined.filter(F.col("media_type") == "video")
        .groupBy("media_id", "n_frames")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.max("frame_idx").alias("max_idx"))
        .collect()
    )
    assert per_video
    for r in per_video:
        expected = (int(r["n_frames"]) + 9) // 10
        assert r["n_sampled"] == expected
        assert r["max_idx"] < r["n_frames"]
    # non-video rows emit exactly frame 0
    others = joined.filter(F.col("media_type") != "video")
    assert others.filter(F.col("frame_idx") != 0).count() == 0
    # fingerprints deterministic across runs
    a = sorted(map(tuple, frames.collect()))
    b = sorted(map(tuple, multimodal.sample_frames(media).collect()))
    assert a == b
