"""Fuzz the media kernel: any SIMG blob that passes the magic-byte gate
yields a span record from extract_media_span, never an exception, and a
failed span's error names the exception class that failed it."""

from __future__ import annotations

import json
import re
import warnings

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from ocr_service_spark.kernels.media import (
    SIMG_MAGIC,
    encode_png_gray,
    encode_simg,
    extract_media_span,
)

# "[context: ]ExceptionClass: message", or a soft-deadline timeout
_NAMED_FAILURE = re.compile(r"(^|: )[A-Z]\w*(Error|Exception|Exit|Interrupt|Warning): |timeout")

_json_scalar = st.one_of(
    st.none(), st.booleans(), st.integers(-5, 5000), st.floats(allow_nan=False), st.text(max_size=8)
)
_point = st.lists(st.integers(-20, 200), min_size=0, max_size=3)

_dims = st.one_of(
    st.tuples(st.integers(0, 48), st.integers(0, 48)),
    st.sampled_from([(0, 0), (1, 1), (1, 4000), (4000, 1), (2, 1)]),
)

_qr = st.one_of(
    _json_scalar,
    st.lists(_json_scalar, max_size=3),
    st.fixed_dictionaries(
        {},
        optional={
            "data": st.one_of(st.text(max_size=24), _json_scalar, st.just("https://r.example/1")),
            "location": st.one_of(st.lists(st.integers(-5, 60), max_size=5), _json_scalar),
            "in_warped": _json_scalar,
            "in_preprocessed": _json_scalar,
        },
    ),
)

_header = st.fixed_dictionaries(
    {},
    optional={
        "lines": st.one_of(st.lists(st.text(max_size=12), max_size=3), _json_scalar),
        "conf": st.one_of(
            st.dictionaries(
                st.sampled_from(
                    ["tesseract_preprocessed", "paddleocr_preprocessed", "paddleocr_warped"]
                ),
                st.one_of(st.floats(0, 1), _json_scalar),
            ),
            _json_scalar,
        ),
        "quad": st.one_of(st.lists(_point, max_size=5), _json_scalar),
        "mode": st.one_of(st.sampled_from(["neural", "classic"]), _json_scalar),
        "qr": _qr,
    },
)


@st.composite
def simg_blobs(draw) -> bytes:
    """SIMG1 blobs past the magic-byte gate: the header's declared h/w
    (sometimes off from the pixel payload) plus fuzzed fields."""
    h, w = draw(_dims)
    meta = draw(_header)
    meta["h"], meta["w"] = draw(st.sampled_from([(h, w), (h + 1, w), (w, h)]))
    fill = draw(st.sampled_from(["flat", "noise", "frame"]))
    rng = np.random.default_rng(draw(st.integers(0, 3)))
    if fill == "flat":
        pixels = np.full((h, w), draw(st.integers(0, 255)), np.uint8)
    elif fill == "noise":
        pixels = rng.integers(0, 256, (h, w), dtype=np.uint8)
    else:  # a bright page on a dark background: the alignment chain's shape
        pixels = np.full((h, w), 20, np.uint8)
        pixels[h // 4 : h - h // 4, w // 4 : w - w // 4] = 220
    head = json.dumps(meta, separators=(",", ":")).encode()
    return SIMG_MAGIC + head + b"\n" + pixels.tobytes()


@settings(max_examples=60, deadline=None)
@given(blob=simg_blobs(), accepted=st.sampled_from([None, ("fiscal",), ("url", "unknown")]))
def test_simg_fuzz_returns_a_span_never_raises(blob, accepted):
    res = extract_media_span(blob, 0.6, accepted, timeout_s=10.0)
    assert isinstance(res, dict)
    assert res["status"] in ("completed", "failed")
    assert res["kind"] in ("qr", "media_text")
    if res["status"] == "failed":
        assert res["text"] is None
        assert isinstance(res["error"], str)
        assert _NAMED_FAILURE.search(res["error"]), res["error"]
    else:
        assert res["error"] is None


@pytest.mark.parametrize("shape", [(0, 0), (0, 12), (12, 0)])
@pytest.mark.parametrize("codec", ["simg", "png"])
def test_zero_pixel_image_fails_at_decode(shape, codec):
    """A frame with no pixels fails its span at decode, naming the empty
    image, before the alignment front end warns on an empty mean."""
    pixels = np.zeros(shape, np.uint8)
    if codec == "simg":
        blob = encode_simg({"h": shape[0], "w": shape[1]}, pixels)
    else:
        blob = encode_png_gray(pixels)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        res = extract_media_span(blob, 0.6, None)
    assert res["status"] == "failed" and res["text"] is None
    assert res["error"] == f"ValueError: empty image: {shape[0]}x{shape[1]} pixels"
