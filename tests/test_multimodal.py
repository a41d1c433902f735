"""Multimodal plumbing: binary columns + typed metadata + frame sampling,
and the library-free PPM/BMP decode path."""

import pytest

from ocr_corrector_spark.operators.multimodal import (
    media_schema,
    pack_header,
    sample_video_frames,
    with_media_metadata,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "conv-0", 0, bytearray(pack_header("image", 640, 480, 1, b"\x01" * 100))),
        (2, "conv-0", 1, bytearray(pack_header("audio", 0, 0, 0, b"\x02" * 64))),
        (3, "conv-1", 0, bytearray(pack_header("video", 1280, 720, 95, b"\x03" * 256))),
        (4, "conv-1", 1, bytearray(b"\x00\x01")),  # truncated/garbage
    ]
    return spark.createDataFrame(rows, media_schema())


def test_media_metadata(spark, media_df):
    out = {r.media_id: r.media_meta for r in with_media_metadata(media_df).collect()}
    assert out[1].media_type == "image" and out[1].width == 640 and out[1].height == 480
    assert out[1].payload_bytes == 100
    assert out[2].media_type == "audio"
    assert out[3].media_type == "video" and out[3].n_frames == 95
    assert out[4].media_type is None  # garbage header → typed nulls, no crash


def test_video_frame_sampling(spark, media_df):
    out = {r.media_id: r for r in sample_video_frames(media_df, every_n=10).collect()}
    assert list(out[3].sampled_frames) == list(range(0, 95, 10))
    assert list(out[1].sampled_frames) == []


# --- real library-free image decode (functions/imagecodec.py) -----------------
def _make_ppm(w, h):
    import numpy as np

    from ocr_corrector_spark.functions.imagecodec import encode_ppm

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return img, encode_ppm(img)


def _make_bmp(img):
    """24-bit bottom-up BMP from an (h, w, 3) RGB array."""
    import struct

    import numpy as np

    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    payload = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(payload), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(payload), 2835, 2835, 0, 0)
    return header + info + payload


def test_ppm_bmp_roundtrip_kernels():
    import numpy as np

    from ocr_corrector_spark.functions.imagecodec import (
        decode_any,
        decode_bmp,
        decode_ppm,
        resize_nearest,
    )

    img, ppm = _make_ppm(13, 7)
    assert np.array_equal(decode_ppm(ppm), img)
    assert np.array_equal(decode_any(ppm), img)
    bmp = _make_bmp(img)
    assert np.array_equal(decode_bmp(bmp), img)
    small = resize_nearest(img, 4, 4)
    assert small.shape == (4, 4, 3)
    assert np.array_equal(resize_nearest(img, 7, 13), img)  # identity size


def test_ppm_header_comments_and_errors():
    import pytest as _pytest

    from ocr_corrector_spark.functions.imagecodec import (
        ImageDecodeError,
        decode_any,
        decode_ppm,
    )

    img, ppm = _make_ppm(3, 2)
    commented = b"P6\n# a comment\n3 2\n# more\n255\n" + ppm.split(b"255\n", 1)[1]
    assert decode_ppm(commented).shape == (2, 3, 3)
    with _pytest.raises(ImageDecodeError):
        decode_ppm(b"P6\n3 2\n255\n\x00\x01")  # truncated
    with _pytest.raises(NotImplementedError):
        decode_any(b"\xff\xd8\xff\xe0fakejpeg")  # jpeg needs a codec lib


def test_decode_images_dataframe(spark):
    import numpy as np

    from ocr_corrector_spark.operators.multimodal import decode_images

    img, ppm = _make_ppm(16, 12)
    bmp = _make_bmp(img)
    rows = [
        (1, bytearray(ppm)),
        (2, bytearray(bmp)),
        (3, bytearray(b"\x89PNG\r\n\x1a\nfake")),   # stub format -> error row
        (4, bytearray(b"garbage")),                  # unknown -> error row
        (5, bytearray(b"P6\n5 0\n255\n")),           # zero-height -> error row, not task crash
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r.media_id: r.image for r in decode_images(df).collect()}
    assert out[1].format == "ppm" and (out[1].height, out[1].width) == (12, 16)
    assert out[2].format == "bmp" and (out[2].height, out[2].width) == (12, 16)
    # ppm and bmp carry the same pixels -> identical features
    assert out[1].mean_rgb == out[2].mean_rgb
    assert bytes(out[1].thumbnail) == bytes(out[2].thumbnail)
    from ocr_corrector_spark.functions.imagecodec import decode_ppm

    thumb = decode_ppm(bytes(out[1].thumbnail))
    assert thumb.shape == (8, 8, 3)
    assert out[3].error is not None and "NotImplementedError" in out[3].error
    assert out[4].error is not None and out[4].height is None
    assert out[5].error is not None and "zero-dimension" in out[5].error


def test_image_ahash_consumes_stored_bytes(spark, monkeypatch, tmp_path):
    """q_image_ahash must hash the STORED binary column, not regenerate
    pixels: a corrupted payload in the fixture table has to change the
    hash (round-4 verdict item 3)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_corrector_spark.functions.imagecodec import encode_ppm
    from ocr_corrector_spark.operators import multimodal as mm

    def expected_ahash(arr):
        gray = arr.astype(np.int64).sum(axis=-1)
        n, total = gray.size, int(gray.sum())
        bits = (gray * n > total).astype(np.int64).ravel()
        return int((bits << np.arange(n, dtype=np.int64)).sum())

    clean0 = encode_ppm(mm._gen_image(0))
    clean1 = encode_ppm(mm._gen_image(1))
    corrupt2 = encode_ppm(mm._gen_image(2))
    # valid header, flattened payload: every pixel byte -> 0xFF
    hdr_end = corrupt2.index(b"255\n") + 4
    corrupt2 = corrupt2[:hdr_end] + b"\xff" * (len(corrupt2) - hdr_end)

    root = tmp_path / "fixtures"
    tbl_dir = root / "sf0.001" / "images.parquet"
    tbl_dir.mkdir(parents=True)
    pq.write_table(
        pa.table(
            pd.DataFrame(
                {"doc_id": [0, 1, 2], "content": [clean0, clean1, corrupt2]}
            )
        ),
        tbl_dir / "part-0.parquet",
    )
    (tbl_dir / "_SUCCESS").touch()
    monkeypatch.setattr(mm, "IMAGES_FIXTURE_ROOT", str(root))

    out = {
        r.doc_id: r.ahash
        for r in mm.q_image_ahash(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(out) == {0, 1, 2}
    from ocr_corrector_spark.functions.imagecodec import decode_ppm

    assert out[0] == expected_ahash(decode_ppm(clean0))
    assert out[1] == expected_ahash(decode_ppm(clean1))
    # all-equal pixels -> no bit exceeds the mean -> hash collapses to 0,
    # which differs from the clean image's hash: stored bytes were used
    assert out[2] == 0
    assert out[2] != expected_ahash(mm._gen_image(2))


def test_images_table_materializes_once(spark, monkeypatch, tmp_path):
    import os

    from ocr_corrector_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "IMAGES_FIXTURE_ROOT", str(tmp_path / "fx"))
    t1 = mm.images_table(spark, "/root/testdata/sf0.001")
    n = t1.count()
    assert n > 0 and set(t1.columns) == {"doc_id", "content"}
    marker = os.path.join(
        str(tmp_path / "fx"), "sf0.001", "images.parquet", "_SUCCESS"
    )
    mtime = os.path.getmtime(marker)
    assert mm.images_table(spark, "/root/testdata/sf0.001").count() == n
    assert os.path.getmtime(marker) == mtime  # not rewritten
