"""The image operator analogs' stored fixture table and the PPM codec
their queries decode with (functions/imagecodec.py)."""

import pytest


def _make_ppm(w, h):
    import numpy as np

    from ocr_corrector_spark.functions.imagecodec import encode_ppm

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return img, encode_ppm(img)


def test_ppm_bmp_roundtrip_kernels():
    import numpy as np

    from ocr_corrector_spark.functions.imagecodec import decode_ppm

    img, ppm = _make_ppm(13, 7)
    assert np.array_equal(decode_ppm(ppm), img)


def test_ppm_header_comments_and_errors():
    from ocr_corrector_spark.functions.imagecodec import (
        ImageDecodeError,
        decode_ppm,
    )

    img, ppm = _make_ppm(3, 2)
    commented = b"P6\n# a comment\n3 2\n# more\n255\n" + ppm.split(b"255\n", 1)[1]
    assert decode_ppm(commented).shape == (2, 3, 3)
    with pytest.raises(ImageDecodeError):
        decode_ppm(b"P6\n3 2\n255\n\x00\x01")  # truncated


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
