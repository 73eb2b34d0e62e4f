"""Property-based round-trips for the pure-stdlib media codecs
(operators/multimodal.py): any image/clip the encoder can write, the
decoder reconstructs byte-for-byte. No Spark session needed."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from rdf_diff_store_spark.operators.multimodal import (
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    ctype=st.sampled_from([0, 2, 6]),
    data=st.data(),
)
def test_png_roundtrip_any_image(w, h, ctype, data):
    bpp = {0: 1, 2: 3, 6: 4}[ctype]
    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * bpp, max_size=w * h * bpp
            )
        )
    )
    rw, rh, out = decode_png(encode_png(w, h, pixels, color_type=ctype))
    assert (rw, rh, out) == (w, h, pixels)


@settings(max_examples=40, deadline=None)
@given(
    rate=st.sampled_from([8000, 16000, 44100]),
    channels=st.integers(1, 2),
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
)
def test_wav_roundtrip_any_clip(rate, channels, samples):
    r, c, out = decode_wav(encode_wav(rate, channels, samples))
    assert (r, c, out) == (rate, channels, samples)
