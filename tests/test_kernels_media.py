"""Media kernel: codec, QR semantics, cascade gating, and the media task
function that runs it over a batch of blobs (FIXTURES.md §5)."""

from __future__ import annotations

import statistics

import numpy as np
import pandas as pd
import pytest

from ocr_service_spark.config import MAX_MEDIA_BYTES, ExtractConfig
from ocr_service_spark.kernels.media import (
    StubRecognizer,
    classify_qr_format,
    decode_simg,
    encode_simg,
    extract_media_span,
    run_cascade,
    try_qr,
    validate_media,
)
from ocr_service_spark.pipeline.extract import (
    _MEDIA_RESULT_COLUMNS,
    _arrow_blobs,
    _make_media_fn,
)


def _blob(conf=None, lines=None, qr=None, w=48, h=64, brightness=150, quad=True):
    rng = np.random.default_rng(1)
    pixels = np.clip(rng.normal(brightness, 10, (h, w)), 0, 255).astype(np.uint8)
    meta = {
        "w": w,
        "h": h,
        "lines": lines if lines is not None else ["alpha beta", "gamma"],
        "conf": conf
        or {
            "tesseract_preprocessed": 0.9,
            "paddleocr_preprocessed": 0.8,
            "paddleocr_warped": 0.7,
        },
    }
    if quad:
        meta["quad"] = [[5, 5], [w - 5, 5], [w - 5, h - 5], [5, h - 5]]
    if qr:
        meta["qr"] = qr
    return encode_simg(meta, pixels)


# --- codec / validation -------------------------------------------------------

def test_simg_roundtrip():
    blob = _blob()
    meta, px = decode_simg(blob)
    assert meta["w"] == 48 and px.shape == (64, 48)


def test_validate_media_gates():
    # reference ocr.ts:42-49 — type + 10 MiB size gate
    assert validate_media(None) == "empty media"
    assert validate_media(b"") == "empty media"
    assert validate_media(b"GIF89a") == "unsupported media type"
    assert validate_media(b"SIMG1\n" + b"x" * MAX_MEDIA_BYTES) == "media exceeds 10 MiB"
    assert validate_media(_blob()) is None


# --- QR classification (processor.ts:341-355) ----------------------------------

@pytest.mark.parametrize(
    "data,fmt",
    [
        ("t=20240101&s=12.00&fn=12345&fp=67890", "fiscal"),
        ("xx&fn=999", "fiscal"),
        ("t=1&s=2&fp=3", "fiscal"),
        ("https://example.com/x", "url"),
        ("http://example.com/x", "url"),
        ("hello", "unknown"),
        ("t=1&s=2", "unknown"),  # needs all three of t=, s=, fp=
    ],
)
def test_classify_qr_format(data, fmt):
    assert classify_qr_format(data) == fmt


def test_qr_prefers_warped_then_preprocessed():
    # reference processor.ts:278-339 — warped attempted first
    meta = {"qr": {"data": "https://a", "location": [1, 2, 3, 4], "in_warped": True, "in_preprocessed": True}}
    hit = try_qr(meta, None)
    assert hit["found_in_preprocessed"] is False
    meta["qr"]["in_warped"] = False
    hit = try_qr(meta, None)
    assert hit["found_in_preprocessed"] is True
    meta["qr"]["in_preprocessed"] = False
    assert try_qr(meta, None) is None


def test_qr_format_filter():
    meta = {"qr": {"data": "hello", "location": [0, 0, 1, 1], "in_warped": True}}
    assert try_qr(meta, ("fiscal",)) is None  # found but filtered → OCR path
    assert try_qr(meta, ("unknown",))["qr_format"] == "unknown"


# --- cascade (processor.ts:366-477) --------------------------------------------

def _meta(ct, cp, cw, lines=("one two", "three")):
    return {
        "lines": list(lines),
        "conf": {
            "tesseract_preprocessed": ct,
            "paddleocr_preprocessed": cp,
            "paddleocr_warped": cw,
        },
    }


IMG = np.zeros((4, 4), np.uint8)


def test_cascade_first_attempt_wins_at_threshold():
    res = run_cascade(_meta(0.6, 0.9, 0.9), IMG, IMG, 0.6, StubRecognizer())
    assert res.engine == "tesseract" and res.used_preprocessed
    assert res.text == "one two three"  # ' '.join of tokens (tesseract.py:111)


def test_cascade_below_threshold_falls_through():
    res = run_cascade(_meta(0.59, 0.61, 0.9), IMG, IMG, 0.6, StubRecognizer())
    assert res.engine == "paddleocr" and res.used_preprocessed
    assert res.text == "one two\nthree"  # '\n'.join (paddleocr ocr.py:139)


def test_cascade_third_attempt():
    res = run_cascade(_meta(0.1, 0.2, 0.8), IMG, IMG, 0.6, StubRecognizer())
    assert res.engine == "paddleocr" and not res.used_preprocessed


def test_cascade_all_below_returns_last_low_confidence():
    # reference processor.ts:443-474 — last-resort result, not an error
    res = run_cascade(_meta(0.1, 0.2, 0.3), IMG, IMG, 0.6, StubRecognizer())
    assert res.engine == "paddleocr" and not res.used_preprocessed
    assert res.confidence == 0.3


def test_tesseract_empty_tokens_conf_zero():
    # tesseract.py:114 — empty token set → confidence 0.0
    res = run_cascade(_meta(0.9, 0.9, 0.9, lines=()), IMG, IMG, 0.6, StubRecognizer())
    assert res.text == "" and res.engine == "paddleocr"  # tess conf forced 0


# --- end-to-end single span ----------------------------------------------------

def test_extract_media_qr_short_circuit():
    blob = _blob(qr={"data": "https://r.example/1", "location": [1, 1, 9, 9], "in_warped": True})
    res = extract_media_span(blob, 0.6, None)
    assert res["kind"] == "qr" and res["text"] == "https://r.example/1"
    assert res["qr_format"] == "url"


def test_extract_media_ocr_path():
    res = extract_media_span(_blob(), 0.6, None)
    assert res["kind"] == "media_text"
    assert res["engine"] == "tesseract"
    assert res["text"] == "alpha beta gamma"


def test_extract_media_invalid_blob_failed_status():
    res = extract_media_span(b"\x00\x01", 0.6, None)
    assert res["status"] == "failed" and res["text"] is None


def test_media_task_fn_rows_and_metrics():
    """The media task function without Spark: one span row per
    referenced blob carrying every result field, then the partition's
    metrics row."""
    batch = pd.DataFrame(
        {
            "media_ref": ["ocr", "qr", "bad"],
            "content": [
                _blob(),
                _blob(qr={"data": "https://r.example/1", "location": [1, 1, 9, 9]}),
                b"GIF89a not a supported image",
            ],
        }
    )
    ref_buckets = dict.fromkeys(["ocr", "qr", "bad"], {None})
    frames = list(_make_media_fn(ExtractConfig(), _arrow_blobs, ref_buckets)(iter([batch])))
    assert all(list(f.columns) == _MEDIA_RESULT_COLUMNS for f in frames)
    assert len(frames[-1]) == 1
    spans, metrics = pd.concat(frames[:-1], ignore_index=True), frames[-1].iloc[0]
    assert list(spans["row_type"]) == ["span"] * 3
    assert list(spans["media_ref"]) == ["ocr", "qr", "bad"]
    by_ref = spans.set_index("media_ref")
    assert by_ref.loc["ocr", "kind"] == "media_text"
    assert by_ref.loc["ocr", "text"] == "alpha beta gamma"
    assert by_ref.loc["ocr", "engine"] == "tesseract"
    assert by_ref.loc["qr", "kind"] == "qr"
    assert by_ref.loc["qr", "qr_format"] == "url"
    assert by_ref.loc["bad", "status"] == "failed"
    assert by_ref.loc["bad", "kind"] == "media_text"
    assert by_ref.loc["bad", "error"] == "unsupported media type"
    assert (spans["attempt_number"] == 1).all()
    assert spans["processing_ms"].notna().all()

    assert metrics["row_type"] == "metrics"
    assert metrics["n_blobs"] == len(spans)
    assert metrics["ocr_chars"] == sum(len(t or "") for t in spans["text"])
    # processing_ms is rounded per blob, the sums and median are not
    assert abs(metrics["kernel_ms_sum"] - sum(spans["processing_ms"])) < 0.01
    assert metrics["kernel_ms_max"] >= metrics["kernel_ms_p50"] > 0
    assert abs(metrics["kernel_ms_p50"] - statistics.median(spans["processing_ms"])) < 0.01
    assert pd.isna(metrics["media_ref"]) and pd.isna(metrics["status"])


def _truncated_pixels():
    return _blob()[:-10]


def _non_json_header():
    return b"SIMG1\n{not json\n" + bytes(64 * 48)


def _header_without_newline():
    return b"SIMG1\n" + b"x" * 64


@pytest.mark.parametrize(
    "make", [_truncated_pixels, _non_json_header, _header_without_newline]
)
def test_malformed_simg_yields_failed_span_not_crash(make):
    """SIMG blobs that pass the magic-byte gate but do not decode fail
    their span (the batch analog of markAsFailed) instead of raising
    out of the kernel and killing the task that holds them."""
    blob = make()
    assert validate_media(blob) is None  # precondition: past the gate
    with pytest.raises(ValueError):
        decode_simg(blob)
    res = extract_media_span(blob, 0.6, None)
    assert res["status"] == "failed"
    assert res["kind"] == "media_text" and res["text"] is None
    assert res["error"].startswith("SIMG decode failed")


@pytest.mark.parametrize(
    "blob, exc_name",
    [
        # no pixels: fails at decode, before the kernels
        (_blob(w=0, h=0, quad=False), "ValueError"),
        (_blob(w=1, h=1, quad=False), "LinAlgError"),
        (_blob(w=4000, h=1, quad=False), "LinAlgError"),
        (_blob(qr="x"), "AttributeError"),
        (_blob(qr={"data": "https://r.example/1", "location": [1, 1]}), "ValueError"),
    ],
    ids=["0x0", "1x1", "1x4000", "qr_not_dict", "qr_location_2"],
)
def test_simg_that_decodes_but_breaks_a_kernel_fails_its_span(blob, exc_name):
    """SIMG blobs that pass the gate AND decode, then raise inside the
    alignment or QR kernels (or hold no pixels), fail their span with the
    exception's class in the error instead of killing the task that holds
    them."""
    assert validate_media(blob) is None  # precondition: past the gate
    decode_simg(blob)  # precondition: decodes
    res = extract_media_span(blob, 0.6, None)
    assert res["status"] == "failed"
    assert res["kind"] == "media_text" and res["text"] is None
    assert res["error"].startswith(f"{exc_name}: ")


def test_extract_media_classic_chain_completes():
    # neural declines or fails → classic P3-P8 chain; annotated quad
    # metadata is ignored (the chain derives geometry from pixels)
    res = extract_media_span(_blob(quad=False), 0.6, None)
    assert res["status"] == "completed"
    assert extract_media_span(_blob(quad=True), 0.6, None)["status"] == "completed"


def test_extract_media_timeout_guard():
    # Q9: soft deadline (reference OCR_ENGINE_TIMEOUT, config/index.ts:24)
    # — an already-expired budget completes the span as FAILED, not a hang
    res = extract_media_span(_blob(), 0.6, None, timeout_s=1e-9)
    assert res["status"] == "failed"
    assert "timeout" in res["error"]
    # generous budget unaffected
    assert extract_media_span(_blob(), 0.6, None, timeout_s=30.0)["status"] == "completed"


def test_extract_media_aggressive_profile_same_text():
    # binarization profile changes pixels, not the recognized span text
    gentle = extract_media_span(_blob(), 0.6, None, aggressive=False)
    aggressive = extract_media_span(_blob(), 0.6, None, aggressive=True)
    assert gentle["text"] == aggressive["text"]
    assert gentle["status"] == aggressive["status"] == "completed"


def test_hung_engine_call_fails_within_budget():
    """A single engine call that HANGS (native code can't observe the
    soft deadline) must be abandoned by the per-call watchdog and the
    span completed as failed within the soft budget — not after the
    120 s task reaper."""
    import time

    from ocr_service_spark.kernels.media import run_cascade

    class HungRecognizer:
        use_watchdog = True

        def recognize(self, meta, image, engine, variant):
            time.sleep(30)  # simulated wedged image_to_data/predict
            return "never", 1.0

    t0 = time.monotonic()
    res = extract_media_span(
        _blob(), 0.6, None, recognizer=HungRecognizer(), timeout_s=0.5
    )
    wall = time.monotonic() - t0
    assert res["status"] == "failed"
    assert "budget" in res["error"] or "timeout" in res["error"]
    assert wall < 5.0  # bounded by the soft budget, not the sleep

    # and a watchdogged engine that merely raises still cascades through
    class FlakyFast:
        use_watchdog = True

        def __init__(self):
            self.calls = 0

        def recognize(self, meta, image, engine, variant):
            self.calls += 1
            if self.calls == 1:
                raise RuntimeError("transient engine failure")
            return "recovered", 0.9

    import time as _t

    r = run_cascade({}, np.zeros((8, 8), np.uint8), np.zeros((8, 8), np.uint8),
                    0.6, FlakyFast(), deadline=_t.monotonic() + 10)
    assert r.text == "recovered"


def test_png_roundtrip_and_real_image_path_end_to_end():
    """The built-in PNG codec (stdlib-only) decodes what it encodes, and
    REAL image bytes travel the full real path — decode_real_image →
    align → binarize → QR skip → RealRecognizer cascade — without any
    gated libraries. Without OCR engines the cascade ends as the
    documented failed span; with them it may complete."""
    import importlib.util

    from ocr_service_spark.kernels.media import decode_real_image, encode_png_gray

    rng = np.random.default_rng(5)
    img = np.full((80, 60), 30, np.uint8)
    img[10:70, 8:52] = 200  # bright receipt quad on dark background
    img[12:68, 10:50] += rng.integers(0, 10, (56, 40)).astype(np.uint8)
    blob = encode_png_gray(img)
    assert blob.startswith(b"\x89PNG\r\n\x1a\n")
    np.testing.assert_array_equal(decode_real_image(blob), img)

    res = extract_media_span(blob, 0.6, None)
    have_engine = (
        importlib.util.find_spec("pytesseract") is not None
        or importlib.util.find_spec("paddleocr") is not None
    )
    if have_engine:
        assert res["status"] in ("completed", "failed")
    else:
        assert res["status"] == "failed"
        assert "OCR attempts failed" in res["error"]
        assert res["kind"] == "media_text"


def test_png_decoder_all_filter_types():
    """Spec §9 filter coverage: rows filtered with Sub/Up/Average/Paeth
    (our encoder only emits None) decode back to the target pixels."""
    import struct
    import zlib

    from ocr_service_spark.kernels.media import PNG_MAGIC, _decode_png_gray

    target = (np.arange(16, dtype=np.int32).reshape(4, 4) * 37 % 256).astype(np.uint8)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = [0, 0, 0, 0]
    for r, ftype in enumerate((1, 2, 3, 4)):
        cur = [int(x) for x in target[r]]
        raw.append(ftype)
        for i in range(4):
            a = cur[i - 1] if i else 0
            b = prev[i]
            c = prev[i - 1] if i else 0
            pred = {1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[ftype]
            raw.append((cur[i] - pred) & 0xFF)
        prev = cur

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    blob = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(_decode_png_gray(blob), target)


def test_png_roundtrip_property():
    """Property: encode_png_gray → decode is the identity for arbitrary
    8-bit grayscale images (sizes crossing the block/filter edges)."""
    from hypothesis import given, settings, strategies as st

    from ocr_service_spark.kernels.media import _decode_png_gray, encode_png_gray

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, seed):
        img = np.random.default_rng(seed).integers(0, 256, (h, w), dtype=np.uint8)
        np.testing.assert_array_equal(_decode_png_gray(encode_png_gray(img)), img)

    check()


def test_corrupt_png_yields_failed_span_not_crash():
    """Corrupt bytes past the PNG magic (truncated IHDR, garbage IDAT)
    must surface as ValueError from the fallback decoder so
    extract_media_span returns the documented failed span instead of
    crashing the task (zlib/struct errors are wrapped)."""
    import struct
    import zlib

    import pytest

    from ocr_service_spark.kernels.media import PNG_MAGIC, _decode_png_gray

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    truncated_ihdr = PNG_MAGIC + chunk(b"IHDR", b"\x00\x01")
    garbage_idat = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", b"not-deflate-data")
        + chunk(b"IEND", b"")
    )
    for blob in (truncated_ihdr, garbage_idat):
        with pytest.raises(ValueError):
            _decode_png_gray(blob)
