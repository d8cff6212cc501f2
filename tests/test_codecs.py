"""Round trips of the container-free codecs in operators/codecs.py: PPM,
BMP and WAV encode and decode exactly, and nearest-neighbour resizing
keeps shape and identity."""

import numpy as np

from graph_data_science_spark.operators import codecs


def test_ppm_roundtrip():
    img = np.random.RandomState(0).randint(0, 256, size=(13, 17, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_ppm(codecs.encode_ppm(img)), img)


def test_ppm_with_comment_header():
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = b"P6\n# a comment\n3 2\n255\n" + img.tobytes()
    assert np.array_equal(codecs.decode_ppm(payload), img)


def test_bmp_roundtrip_includes_row_padding():
    # width 3 -> 9-byte rows padded to 12: exercises the stride logic
    img = np.random.RandomState(1).randint(0, 256, size=(5, 3, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(img)), img)


def test_wav_roundtrip_mono_and_stereo():
    x = np.linspace(-0.9, 0.9, 1000)
    y, rate = codecs.decode_wav(codecs.encode_wav(x, 16000))
    assert rate == 16000 and y.shape == (1000, 1)
    assert np.allclose(y[:, 0], x, atol=1.0 / 32768)
    st = np.stack([x, -x], axis=1)
    y2, _ = codecs.decode_wav(codecs.encode_wav(st, 8000))
    assert y2.shape == (1000, 2)
    assert np.allclose(y2, st, atol=1.0 / 32768)


def test_resize_nearest_shapes_and_identity():
    img = np.random.RandomState(2).randint(0, 256, size=(10, 20, 3), dtype=np.uint8)
    assert codecs.resize_nearest(img, 40, 5).shape == (5, 40, 3)
    assert np.array_equal(codecs.resize_nearest(img, 20, 10), img)
