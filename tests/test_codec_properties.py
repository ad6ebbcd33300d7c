"""Property test for the pure-python PNG codec: the lossless round-trip
must be exact for arbitrary shapes and filters."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dbpedia_spotlight_spark.operators.multimodal import encode_png, parse_png

dims = st.integers(min_value=1, max_value=23)


def _img(h, w, c, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, c), dtype=np.uint8)


@given(dims, dims, st.sampled_from([1, 3]), st.integers(0, 4),
       st.integers(0, 10**6))
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_any_shape_any_filter(h, w, c, ft, seed):
    px = _img(h, w, c, seed)
    out = parse_png(encode_png(px, filter_type=ft))
    assert out.shape == px.shape and (out == px).all()
