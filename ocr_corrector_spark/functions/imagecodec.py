"""Pure-numpy P6 PPM codec (a pyspark-free kernel).

The image operator analogs (operators/multimodal.py) store their images
as PPM — ``P6\\n<w> <h>\\n<maxval>\\n`` + raw RGB triplets, ``#``
comments allowed in the header per the netpbm spec — because the format
decodes with nothing but numpy.  Deterministic and safe inside
Arrow-batched UDFs (no global state, no I/O).
"""

from __future__ import annotations

import numpy as np


class ImageDecodeError(ValueError):
    pass


def decode_ppm(b: bytes) -> np.ndarray:
    """P6 binary PPM → uint8 array (h, w, 3)."""
    if b[:2] != b"P6":
        raise ImageDecodeError("not a P6 ppm")
    # header = magic, width, height, maxval as whitespace-separated tokens,
    # '#' comments run to end of line
    pos, fields = 2, []
    while len(fields) < 3:
        if pos >= len(b):
            raise ImageDecodeError("truncated ppm header")
        c = b[pos : pos + 1]
        if c == b"#":
            nl = b.find(b"\n", pos)
            pos = len(b) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(b) and not b[end : end + 1].isspace():
                end += 1
            fields.append(int(b[pos:end]))
            pos = end
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ImageDecodeError("16-bit ppm unsupported")
    need = w * h * 3
    data = np.frombuffer(b, dtype=np.uint8, offset=pos)
    if data.size < need:
        raise ImageDecodeError("truncated ppm payload")
    return data[:need].reshape(h, w, 3).copy()


def encode_ppm(img: np.ndarray) -> bytes:
    """Inverse of decode_ppm (datagen/test helper)."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()

