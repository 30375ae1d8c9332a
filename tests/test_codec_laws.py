"""Randomized cross-codec laws.

1. Round-trip law: random content survives encode→decode bit-exact for
   every lossless codec (png/tiff), and above the PSNR bar for jpeg.
2. Robustness law: MUTATED streams (byte flips, truncations, random
   prefixes) either decode to SOMETHING or raise ValueError /
   NotImplementedError — never IndexError/KeyError/struct.error (which
   would escape the null-row `except Exception` guards as confusing
   task logs, and signal unvalidated offsets), and never hang.

Two escapes of exactly this class were once found in a retired GIF
decoder (a GCE IndexError and an image-descriptor struct.error); this
pins the whole surface.
"""

import struct
import zlib

import numpy as np
import pytest

from geomesa_sql_spark.io.images import decode_png, encode_png, psnr
from geomesa_sql_spark.io.jpeg import decode_jpeg, encode_jpeg
from geomesa_sql_spark.io.tiff import decode_tiff, encode_tiff

OK_ERRORS = (ValueError, NotImplementedError, zlib.error)


def _rand_img(rng, max_side=33):
    h = int(rng.integers(1, max_side))
    w = int(rng.integers(1, max_side))
    return rng.integers(0, 256, (h, w, 3)).astype(np.uint8)


def test_lossless_image_roundtrip_law():
    rng = np.random.default_rng(42)
    for trial in range(12):
        img = _rand_img(rng)
        assert (decode_png(encode_png(img)) == img).all()
        comp = ("none", "packbits", "lzw", "deflate")[trial % 4]
        assert (decode_tiff(encode_tiff(img, comp, predictor=trial % 2 == 0))
                == img).all()


def test_jpeg_psnr_law():
    rng = np.random.default_rng(43)
    for trial in range(4):
        # smooth content (JPEG's PSNR bar is for natural images, not noise)
        h = int(rng.integers(16, 64))
        w = int(rng.integers(16, 64))
        yy, xx = np.mgrid[0:h, 0:w]
        a, b, c = rng.integers(1, 6, 3)
        img = np.stack(
            [(xx * a) % 256, (yy * b) % 256, ((xx + yy) * c) % 256], -1
        ).astype(np.uint8)
        assert psnr(img, decode_jpeg(encode_jpeg(img, quality=90))) >= 36.0


def _mutations(rng, blob, rounds):
    """Byte flips, truncations, and garbage splices of a valid stream."""
    for _ in range(rounds):
        b = bytearray(blob)
        kind = rng.integers(0, 3)
        if kind == 0 and len(b):  # flip 1-4 bytes
            for _ in range(int(rng.integers(1, 5))):
                b[int(rng.integers(0, len(b)))] ^= int(rng.integers(1, 256))
            yield bytes(b)
        elif kind == 1:  # truncate anywhere
            yield bytes(b[: int(rng.integers(0, len(b) + 1))])
        else:  # splice random garbage into the middle
            at = int(rng.integers(0, len(b) + 1))
            yield bytes(b[:at]) + rng.bytes(int(rng.integers(1, 40))) + bytes(b[at:])


@pytest.mark.parametrize(
    "name,decode,build",
    [
        ("png", decode_png, lambda rng: encode_png(_rand_img(rng))),
        (
            "jpeg",
            decode_jpeg,
            lambda rng: encode_jpeg(_rand_img(rng), quality=85),
        ),
        (
            "tiff",
            decode_tiff,
            lambda rng: encode_tiff(_rand_img(rng), "lzw", predictor=True),
        ),
        ("bigtiff", lambda b: __import__(
            "geomesa_sql_spark.io.tiff", fromlist=["decode_tiff_raster"]
        ).decode_tiff_raster(b), lambda rng: __import__(
            "geomesa_sql_spark.io.tiff", fromlist=["encode_geotiff"]
        ).encode_geotiff(
            _rand_img(rng)[..., 0], pixel_scale=(0.1, 0.1),
            tiepoint_xy=(1.0, 2.0), epsg=4326, tile=16,
            compression="deflate", overviews=1, bigtiff=True)),
        ("mvt", lambda b: __import__(
            "geomesa_sql_spark.io.mvt", fromlist=["decode_tile"]
        ).decode_tile(b), lambda rng: __import__(
            "geomesa_sql_spark.io.mvt", fromlist=["encode_point_layer"]
        ).encode_point_layer(
            "p", rng.integers(0, 4096, 40), rng.integers(0, 4096, 40),
            ids=np.arange(40))),
    ],
)
def test_codec_robustness_law(name, decode, build):
    # crc32, not hash(): str hashing is salted per process, which would
    # make this law explore different mutations every run — a failure
    # that can't be reproduced is a flake, not a gate
    rng = np.random.default_rng(zlib.crc32(name.encode()))
    blob = build(rng)
    decode(blob)  # the unmutated stream must decode
    for mutated in _mutations(rng, blob, 60):
        try:
            decode(mutated)
        except OK_ERRORS:
            pass  # clean rejection is the contract
        except (struct.error, IndexError, KeyError, OverflowError) as ex:
            raise AssertionError(
                f"{name}: {type(ex).__name__} escaped on mutated input: {ex}"
            ) from ex
