"""Image resize: the pure nearest-neighbour kernel and its real Spark
mapInPandas plumbing over the deterministic stand-in PNG codec."""

from __future__ import annotations

import numpy as np

from amazonwebcrawler_spark.functions.images import (
    RESIZED_SCHEMA,
    decode_image,
    encode_png,
    resize_images_kernel,
    resize_pixels,
)


class TestPureKernels:
    def test_resize_shapes(self):
        px = np.arange(32 * 24 * 3, dtype=np.uint8).reshape(24, 32, 3)
        out = resize_pixels(px, 8, 8)
        assert out.shape == (8, 8, 3)
        assert np.array_equal(out[0, 0], px[0, 0])  # corner preserved (NN)


class TestSparkPlumbing:
    def test_resize_images(self, spark):
        px = np.arange(32 * 32 * 3, dtype=np.uint8).reshape(32, 32, 3)
        df = spark.createDataFrame(
            [(f"img-{i}", bytearray(encode_png(px))) for i in range(10)],
            "image_id string, bytes binary",
        )
        out = df.repartition(4).mapInPandas(resize_images_kernel(8, 8), RESIZED_SCHEMA)
        rows = out.collect()
        assert len(rows) == 10
        for r in rows:
            assert (r.w, r.h) == (8, 8)
            assert decode_image(bytes(r.bytes)).shape == (8, 8, 3)
