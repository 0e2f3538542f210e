"""Media span kernel: decode → align → binarize → QR attempt → OCR cascade.

This is the batch re-expression of the reference worker's hot path
(reference: services/gateway/src/services/processor.ts:57-260; SURVEY.md
§3.2): one pure function per image, invoked over Arrow record batches by
the pipeline layer, with recognition models held as executor-level
singletons.

Real OCR engines (pytesseract / paddleocr / QR decoders) are not in this
container. The container-boundary is explicit:

- `SIMG1` blobs — the deterministic synthetic image format produced by
  ``ocr_service_spark.datagen`` — carry their ground-truth recognition
  payload; the ``StubRecognizer`` "infers" it after the *real* numpy
  preprocessing chain runs. This keeps the Spark-side plumbing (schemas,
  batching, cascade masking, cost-balanced bins) real and benchmarkable.
- real jpeg/png/webp bytes route through ``decode_real_image`` and the
  ``TesseractAdapter`` / ``PaddleAdapter`` / ``real_qr_decode`` adapters
  (executor-level singletons, imported lazily). When the libraries are
  absent the span completes as FAILED with a clear error; when present
  (a production container) the full real-image path runs with the same
  alignment chain and cascade semantics as the SIMG path.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

from ..config import (
    ALLOWED_MEDIA_MAGIC,
    CASCADE_ATTEMPTS,
    KERNEL_TIMEOUT_S,
    MAX_MEDIA_BYTES,
)
from . import align, colorspace, imageops, neural

SIMG_MAGIC = b"SIMG1\n"


# --------------------------------------------------------------------------
# blob codec (the synthetic stand-in for jpeg/png receipts)
# --------------------------------------------------------------------------

def encode_simg(meta: dict, pixels: np.ndarray) -> bytes:
    """Pack a synthetic grayscale image: magic + JSON meta line + raw u8."""
    assert pixels.dtype == np.uint8 and pixels.ndim == 2
    head = json.dumps(meta, sort_keys=True, separators=(",", ":")).encode()
    return SIMG_MAGIC + head + b"\n" + pixels.tobytes()


def decode_simg(blob: bytes) -> tuple[dict, np.ndarray]:
    """Unpack; P1 decode analog (reference aligner.py:144-152)."""
    if not blob.startswith(SIMG_MAGIC):
        raise ValueError("not a SIMG1 blob")
    nl = blob.index(b"\n", len(SIMG_MAGIC))
    meta = json.loads(blob[len(SIMG_MAGIC) : nl])
    h, w = int(meta["h"]), int(meta["w"])
    pixels = np.frombuffer(blob[nl + 1 :], dtype=np.uint8, count=h * w).reshape(h, w)
    return meta, pixels


SVID_MAGIC = b"SVID1\n"
SAUD_MAGIC = b"SAUD1\n"


def encode_svid(meta: dict, frames: np.ndarray) -> bytes:
    """Pack a synthetic video: magic + JSON meta + raw u8 frames
    (n_frames, h, w). Stand-in for mp4/webm the way SIMG stands in for
    jpeg — real codecs need ffmpeg/PyAV, absent in this container."""
    assert frames.dtype == np.uint8 and frames.ndim == 3
    head = json.dumps(meta, sort_keys=True, separators=(",", ":")).encode()
    return SVID_MAGIC + head + b"\n" + frames.tobytes()


def decode_svid(blob: bytes) -> tuple[dict, np.ndarray]:
    if not blob.startswith(SVID_MAGIC):
        raise ValueError("not a SVID1 blob")
    nl = blob.index(b"\n", len(SVID_MAGIC))
    meta = json.loads(blob[len(SVID_MAGIC) : nl])
    n, h, w = int(meta["n_frames"]), int(meta["h"]), int(meta["w"])
    frames = np.frombuffer(blob[nl + 1 :], dtype=np.uint8, count=n * h * w).reshape(n, h, w)
    return meta, frames


def encode_saud(meta: dict, samples: np.ndarray) -> bytes:
    """Pack synthetic audio: magic + JSON meta + int16 little-endian PCM."""
    assert samples.dtype == np.int16 and samples.ndim == 1
    head = json.dumps(meta, sort_keys=True, separators=(",", ":")).encode()
    return SAUD_MAGIC + head + b"\n" + samples.astype("<i2").tobytes()


def decode_saud(blob: bytes) -> tuple[dict, np.ndarray]:
    if not blob.startswith(SAUD_MAGIC):
        raise ValueError("not a SAUD1 blob")
    nl = blob.index(b"\n", len(SAUD_MAGIC))
    meta = json.loads(blob[len(SAUD_MAGIC) : nl])
    samples = np.frombuffer(blob[nl + 1 :], dtype="<i2", count=int(meta["n"]))
    return meta, samples


def validate_media(blob: bytes | None) -> str | None:
    """MIME/size gate (reference services/gateway/src/services/ocr.ts:42-49).
    Returns an error string or None."""
    if blob is None or len(blob) == 0:
        return "empty media"
    if len(blob) > MAX_MEDIA_BYTES:
        return "media exceeds 10 MiB"
    if not any(blob.startswith(m) for m in ALLOWED_MEDIA_MAGIC):
        return "unsupported media type"
    return None


# --------------------------------------------------------------------------
# QR (R3-R5)
# --------------------------------------------------------------------------

def classify_qr_format(data: str) -> str:
    """fiscal | url | unknown (reference processor.ts:341-355)."""
    if "fn=" in data or "&fn=" in data or ("t=" in data and "s=" in data and "fp=" in data):
        return "fiscal"
    if data.startswith("http://") or data.startswith("https://"):
        return "url"
    return "unknown"


def _qr_decode_stub(meta: dict, variant: str) -> dict | None:
    """Deterministic stand-in for zxing readBarcodes (processor.ts:278-339).
    The SIMG meta says whether a QR symbol is resolvable in each variant."""
    qr = meta.get("qr")
    if not qr:
        return None
    visible = qr.get("in_warped", True) if variant == "warped" else qr.get(
        "in_preprocessed", True
    )
    if not visible:
        return None
    x, y, w, h = qr.get("location", [0, 0, 0, 0])
    return {"data": qr["data"], "location": {"x": int(x), "y": int(y), "width": int(w), "height": int(h)}}


def try_qr(meta: dict, accepted_formats: tuple[str, ...] | None) -> dict | None:
    """Try warped first, then preprocessed; record found_in_preprocessed
    (processor.ts:176-217,278-339). Accept only if the classified format is
    in ``accepted_formats`` (None → accept all)."""
    for variant in ("warped", "preprocessed"):
        hit = _qr_decode_stub(meta, variant)
        if hit is None:
            continue
        fmt = classify_qr_format(hit["data"])
        if accepted_formats is not None and fmt not in accepted_formats:
            return None  # found but filtered → fall through to OCR
        return {
            "qr_data": hit["data"],
            "qr_format": fmt,
            "qr_location": hit["location"],
            "found_in_preprocessed": variant == "preprocessed",
        }
    return None


def try_qr_real(
    warped: np.ndarray,
    preprocessed: np.ndarray,
    accepted_formats: tuple[str, ...] | None,
) -> dict | None:
    """Real-image QR attempt: warped first, then preprocessed, recording
    found_in_preprocessed (processor.ts:176-217,278-339); quietly skips
    to the OCR path when no QR library is importable."""
    for variant, frame in (("warped", warped), ("preprocessed", preprocessed)):
        try:
            hit = real_qr_decode(frame)
        except ImportError:
            return None  # no decoder in this container → OCR path
        except Exception:
            continue  # decoder error on this variant → try the other
        if hit is None:
            continue
        fmt = classify_qr_format(hit["data"])
        if accepted_formats is not None and fmt not in accepted_formats:
            return None
        return {
            "qr_data": hit["data"],
            "qr_format": fmt,
            "qr_location": hit["location"],
            "found_in_preprocessed": variant == "preprocessed",
        }
    return None


# --------------------------------------------------------------------------
# recognizers
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class EngineResult:
    text: str
    confidence: float
    engine: str
    used_preprocessed: bool


class StubRecognizer:
    """Deterministic recognizer over SIMG blobs.

    Engine-specific text assembly mirrors the reference exactly:
    tesseract joins word tokens with spaces (tesseract.py:111); paddleocr
    joins block lines with newlines (paddleocr ocr.py:139). Per-attempt
    confidences come from the blob so the cascade's gating is exercised
    with real control flow.
    """

    name = "stub"

    def recognize(self, meta: dict, image: np.ndarray, engine: str, variant: str) -> tuple[str, float]:
        lines: list[str] = meta.get("lines", [])
        conf = float(meta.get("conf", {}).get(f"{engine}_{variant}", 0.0))
        if engine == "tesseract":
            # token filter + ' '.join + mean/100, empty → 0.0
            # (tesseract.py:102-115)
            tokens = [t for line in lines for t in line.split() if t]
            text = " ".join(tokens)
            if not tokens:
                conf = 0.0
        else:
            # paddle: '\n'.join block texts (ocr.py:139)
            text = "\n".join(lines)
            if not lines:
                conf = 0.0
        return text, conf


class TesseractAdapter:
    """Real pytesseract engine (reference tesseract.py:52-136): grayscale
    → image_to_data with --psm 3 --oem 3 lang rus+eng → keep tokens with
    conf > 0 and non-empty stripped text → text = ' '.join(tokens),
    confidence = mean(conf)/100 (empty → 0.0)."""

    name = "tesseract"
    PSM, OEM, LANG = 3, 3, "rus+eng"  # tesseract/src/config.py:22-36

    def __init__(self) -> None:
        import pytesseract

        self._pt = pytesseract

    def recognize(self, image: np.ndarray) -> tuple[str, float]:
        try:
            from PIL import Image

            inp = Image.fromarray(image)
        except ImportError:
            inp = image  # pytesseract accepts ndarrays when PIL is present
        data = self._pt.image_to_data(
            inp,
            lang=self.LANG,
            config=f"--psm {self.PSM} --oem {self.OEM}",
            output_type=self._pt.Output.DICT,
        )
        tokens, confs = [], []
        for i, conf in enumerate(data["conf"]):
            if conf > 0:  # -1 marks empty blocks (tesseract.py:102-104)
                text = data["text"][i].strip()
                if text:
                    tokens.append(text)
                    confs.append(float(conf))
        full = " ".join(tokens)  # tesseract.py:111
        avg = (sum(confs) / len(confs)) / 100.0 if confs else 0.0
        return full, avg


class PaddleAdapter:
    """Real PaddleOCR engine (reference ocr_service.py:25-52 + paddleocr
    ocr.py:98-140): predict() results parsed as rec_texts/rec_scores →
    text = '\\n'.join(block texts), confidence = mean(scores)."""

    name = "paddleocr"

    def __init__(self) -> None:
        from paddleocr import PaddleOCR

        self._ocr = PaddleOCR(lang="ru")  # paddle_lang default, config.py

    def recognize(self, image: np.ndarray) -> tuple[str, float]:
        rgb = np.repeat(image[:, :, None], 3, axis=2)  # gray → RGB
        results = self._ocr.predict(rgb)
        texts: list[str] = []
        scores: list[float] = []
        for result in results:
            res = getattr(result, "json", {}).get("res", {})
            rec_texts = res.get("rec_texts", [])
            rec_scores = res.get("rec_scores", [])
            for i, text in enumerate(rec_texts):
                texts.append(text)
                scores.append(float(rec_scores[i]) if i < len(rec_scores) else 0.0)
        avg = sum(scores) / len(scores) if scores else 0.0
        return "\n".join(texts), avg  # ocr.py:117,136


_REAL_ENGINES: dict[str, object] = {}  # executor-level singletons


def _real_engine(engine: str):
    """Lazy executor-singleton adapter for a real OCR engine. Raises
    ImportError when the library is absent (this container), keeping the
    SIMG stub the tested default; with pytesseract / paddleocr installed
    the adapters above run real inference."""
    adapter = _REAL_ENGINES.get(engine)
    if adapter is None:
        adapter = TesseractAdapter() if engine == "tesseract" else PaddleAdapter()
        _REAL_ENGINES[engine] = adapter
    return adapter


def real_qr_decode(image: np.ndarray) -> dict | None:
    """Real QR decode over one grayscale frame (reference
    processor.ts:278-339 uses zxing-wasm readBarcodes, formats=[QRCode],
    tryHarder). Tries zxing-cpp, then pyzbar, then cv2.QRCodeDetector —
    whichever is importable; raises ImportError when none are."""
    try:
        import zxingcpp

        hits = zxingcpp.read_barcodes(
            image, formats=zxingcpp.BarcodeFormat.QRCode, try_rotate=True
        )
        if not hits:
            return None
        h = hits[0]
        pos = h.position
        xs = [pos.top_left.x, pos.top_right.x, pos.bottom_right.x, pos.bottom_left.x]
        ys = [pos.top_left.y, pos.top_right.y, pos.bottom_right.y, pos.bottom_left.y]
        return {
            "data": h.text,
            "location": {  # Position → {x,y,width,height} (processor.ts:357-364)
                "x": int(min(xs)),
                "y": int(min(ys)),
                "width": int(max(xs) - min(xs)),
                "height": int(max(ys) - min(ys)),
            },
        }
    except ImportError:
        pass
    try:
        from pyzbar import pyzbar

        hits = [s for s in pyzbar.decode(image) if s.type == "QRCODE"]
        if not hits:
            return None
        h = hits[0]
        return {
            "data": h.data.decode("utf-8", "replace"),
            "location": {
                "x": int(h.rect.left),
                "y": int(h.rect.top),
                "width": int(h.rect.width),
                "height": int(h.rect.height),
            },
        }
    except ImportError:
        pass
    import cv2  # last resort; raises ImportError when absent too

    data, points, _ = cv2.QRCodeDetector().detectAndDecode(image)
    if not data:
        return None
    xs, ys = points[0][:, 0], points[0][:, 1]
    return {
        "data": data,
        "location": {
            "x": int(xs.min()),
            "y": int(ys.min()),
            "width": int(xs.max() - xs.min()),
            "height": int(ys.max() - ys.min()),
        },
    }


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png_gray(pixels: np.ndarray) -> bytes:
    """Minimal REAL PNG encoder (8-bit grayscale or RGB truecolor,
    filter 0, one IDAT) — stdlib-only (zlib + struct), so tests and
    datagen can emit genuine PNG bytes in containers without PIL/cv2.
    A 3-D (H, W, 3) input is written as color type 2 (RGB, channel
    order as stored). The output opens in any viewer/decoder."""
    import struct
    import zlib

    h, w = pixels.shape[:2]
    color_type = 2 if pixels.ndim == 3 else 0

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[r].tobytes() for r in range(h))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _decode_png(blob: bytes) -> np.ndarray:
    """Pure-python PNG decoder for the 8-bit grayscale (color type 0)
    and RGB truecolor (color type 2) non-interlaced subsets, full filter
    support per the PNG spec §9: the zero-dependency fallback codec
    behind decode_real_image, so the real-image pipeline path is
    exercisable without PIL/cv2. Returns (H, W) gray or (H, W, 3) RGB."""
    import struct
    import zlib

    if not blob.startswith(PNG_MAGIC):
        raise ValueError("not a PNG")
    try:
        pos, idat, ihdr = len(PNG_MAGIC), [], None
        while pos + 8 <= len(blob):
            (ln,) = struct.unpack(">I", blob[pos : pos + 4])
            typ = blob[pos + 4 : pos + 8]
            data = blob[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
            if typ == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
        if ihdr is None or not idat:
            raise ValueError("truncated PNG")
        w, h, depth, color, _comp, _filt, interlace = ihdr
        if depth != 8 or color not in (0, 2) or interlace != 0:
            raise ValueError(
                f"unsupported PNG variant (depth={depth} color={color} "
                f"interlace={interlace}); install PIL/cv2 for full codec support"
            )
        raw = zlib.decompress(b"".join(idat))
    except (struct.error, zlib.error) as exc:
        # Corrupt bytes past the magic check must surface as ValueError so
        # extract_media_span's failed-span guard catches them (never a crash).
        raise ValueError(f"corrupt PNG bytes: {exc}") from exc
    ch = 3 if color == 2 else 1
    rb = w * ch  # filtered row payload bytes; predictors step by ch (=bpp)
    if len(raw) != h * (rb + 1):
        raise ValueError("PNG payload size mismatch")
    out = np.zeros((h, rb), dtype=np.uint8)
    prev = np.zeros(rb, dtype=np.int32)
    for r in range(h):
        ftype = raw[r * (rb + 1)]
        row = np.frombuffer(
            raw, np.uint8, count=rb, offset=r * (rb + 1) + 1
        ).astype(np.int32)
        if ftype == 0:  # None
            cur = row
        elif ftype == 1:  # Sub — mod-256 addition is associative: a cumsum
            # per channel lane (the predictor references byte i - bpp)
            cur = (
                np.cumsum(row.reshape(w, ch), axis=0, dtype=np.int64) & 0xFF
            ).reshape(rb)
        elif ftype == 2:  # Up
            cur = (row + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = row.copy()
            for i in range(rb):
                a = cur[i - ch] if i >= ch else 0
                cur[i] = (cur[i] + (a + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            cur = row.copy()
            for i in range(rb):
                a = cur[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, 3) if ch == 3 else out.reshape(h, w)


def _decode_png_gray(blob: bytes) -> np.ndarray:
    """Grayscale view of _decode_png (color frames reduce via the
    cv2-exact Rec.601 fixed-point transform; PNG stores RGB, so flip to
    BGR first)."""
    arr = _decode_png(blob)
    if arr.ndim == 3:
        from . import colorspace

        return colorspace.bgr_to_gray(arr[..., ::-1])
    return arr



def decode_real_image(blob: bytes) -> np.ndarray:
    """P1 decode for real jpeg/png/webp bytes → grayscale uint8 ndarray
    (reference cv2.imdecode at aligner.py:144-152 / PIL at paddleocr
    ocr.py:60-68; this engine is grayscale-native). One gray definition
    engine-wide: color sources decode via `decode_real_image_any` and
    reduce through colorspace.bgr_to_gray (the cv2-exact fixed-point
    Rec.601 transform) — never PIL's convert('L'), whose 2^16-scaled
    weights differ by ±1/pixel and would diverge the truth sidecars."""
    arr = decode_real_image_any(blob)
    if arr.ndim == 3:
        from . import colorspace

        return colorspace.bgr_to_gray(arr)
    return arr


def decode_real_image_any(blob: bytes) -> np.ndarray:
    """P1 decode preserving color: (H, W) gray for single-channel
    sources, (H, W, 3) BGR for color sources (cv2.imdecode IMREAD_COLOR
    convention, aligner.py:144-152). Color frames let the alignment
    front end run the reference's LAB-channel CLAHE
    (kernels/colorspace.py) instead of the grayscale specialization."""
    try:
        import io

        from PIL import Image
    except ImportError:
        pass
    else:
        try:
            pil = Image.open(io.BytesIO(blob))
            if pil.mode in ("L", "1", "I;16"):
                return np.asarray(pil.convert("L"))
            return np.asarray(pil.convert("RGB"))[..., ::-1]  # RGB → BGR
        except Exception as exc:
            # UnidentifiedImageError is an OSError — re-raise as the
            # ValueError the failed-span guard expects, never a crash
            raise ValueError(f"undecodable image bytes: {exc}") from exc
    try:
        import cv2

        arr = cv2.imdecode(np.frombuffer(blob, np.uint8), cv2.IMREAD_UNCHANGED)
        if arr is None:
            raise ValueError("undecodable image bytes")
        if arr.dtype != np.uint8:
            # 16-bit PNG etc.: IMREAD_UNCHANGED keeps the source depth,
            # which would wrap to garbage in the uint8 kernels — re-decode
            # with IMREAD_COLOR (cv2 converts to 8-bit, 3-channel)
            arr = cv2.imdecode(np.frombuffer(blob, np.uint8), cv2.IMREAD_COLOR)
            if arr is None or arr.dtype != np.uint8:
                raise ValueError("undecodable image bytes: non-8-bit source")
        if arr.ndim == 3:
            return arr[..., :3]  # drop alpha; already BGR
        return arr
    except ImportError:
        pass
    arr = _decode_png(blob)
    return arr[..., ::-1] if arr.ndim == 3 else arr  # PNG stores RGB


class RealRecognizer:
    """Recognizer over real image bytes: dispatches each cascade attempt
    to the executor-singleton engine adapters. Same contract as
    StubRecognizer (meta is unused — real engines read pixels).
    use_watchdog: native engine calls can hang without observing the
    soft deadline, so the cascade runs them under a per-call budget."""

    name = "real"
    use_watchdog = True

    def recognize(
        self, meta: dict, image: np.ndarray, engine: str, variant: str
    ) -> tuple[str, float]:
        return _real_engine(engine).recognize(image)


# --------------------------------------------------------------------------
# per-image extraction (the whole worker hot path, pure)
# --------------------------------------------------------------------------


class EngineTimeoutError(RuntimeError):
    """A single engine call exceeded its share of the soft budget."""


def _call_with_budget(fn, budget_s: float, *args):
    """Run ``fn(*args)`` on a daemon watchdog thread and give up after
    ``budget_s`` — the per-CALL analog of the reference's
    asyncio.wait_for(OCR_ENGINE_TIMEOUT) (processor.ts:424-441 via
    config/index.ts:24). A hung native call (tesseract/paddle C code
    ignores Python-level deadlines) is abandoned: its daemon thread
    lingers but the task completes; spark.task.reaper remains the hard
    backstop for a worker wedged beyond even that."""
    import threading

    out: list = []
    err: list = []

    def runner():
        try:
            out.append(fn(*args))
        except Exception as exc:  # propagated to the caller below
            err.append(exc)

    t = threading.Thread(target=runner, daemon=True)
    t.start()
    t.join(budget_s)
    if t.is_alive():
        raise EngineTimeoutError(f"engine call exceeded {budget_s:.1f}s budget")
    if err:
        raise err[0]
    return out[0]


def run_cascade(
    meta: dict,
    warped: np.ndarray,
    preprocessed: np.ndarray,
    confidence_low: float,
    recognizer: StubRecognizer,
    attempts: tuple[tuple[str, str], ...] = CASCADE_ATTEMPTS,
    deadline: float | None = None,
) -> EngineResult:
    """Confidence-gated engine cascade (processor.ts:366-477): accept the
    first attempt with confidence >= threshold_low; an attempt that
    RAISES counts as an engine failure and the cascade moves on
    (processor.ts:424-441); if all attempts are below the gate, return
    the LAST completed attempt's (low-confidence) result
    (processor.ts:443-474); if every attempt raised, raise.

    Recognizers with ``use_watchdog`` (the real-library adapters — a
    hung image_to_data/predict call can't observe the soft deadline)
    run each attempt under _call_with_budget for the REMAINING soft
    budget. The FIRST timed-out attempt ends the cascade for this span
    (straight to the failed-span path): a wedged native engine tends to
    wedge on the same image again, and each abandoned watchdog call
    leaves a daemon thread competing for the GIL/native resources with
    every subsequent attempt on the same worker — so abandoned threads
    are bounded at one per span, not one per cascade attempt."""
    import time as _time

    last: EngineResult | None = None
    last_err: Exception | None = None
    watchdog = getattr(recognizer, "use_watchdog", False) and deadline is not None
    for engine, variant in attempts:
        img = preprocessed if variant == "preprocessed" else warped
        try:
            if watchdog:
                budget = deadline - _time.monotonic()
                if budget <= 0:
                    raise EngineTimeoutError("soft budget exhausted before attempt")
                text, conf = _call_with_budget(
                    recognizer.recognize, budget, meta, img, engine, variant
                )
            else:
                text, conf = recognizer.recognize(meta, img, engine, variant)
        except EngineTimeoutError as exc:  # hung engine → fail the span now
            last_err = exc
            break
        except Exception as exc:  # engine failure → next attempt
            last_err = exc
            continue
        last = EngineResult(text, conf, engine, variant == "preprocessed")
        if conf >= confidence_low:
            return last
    if last is None:
        raise RuntimeError(f"all OCR attempts failed: {last_err}")
    return last


CLASSIC_MAX_SIDE = 480  # processing-resolution cap for the P3-P8 chain


def extract_media_span(
    blob: bytes | None,
    confidence_low: float,
    accepted_qr_formats: tuple[str, ...] | None,
    recognizer: StubRecognizer | None = None,
    aggressive: bool = False,
    timeout_s: float | None = KERNEL_TIMEOUT_S,
    warp_interp: str = "nearest",
    alignment_mode: str = "neural",
) -> dict:
    """Full single-image extraction: validate → decode → align → binarize →
    QR short-circuit → OCR cascade. Pure function of the blob bytes.

    Q9 timeout guard: a soft monotonic deadline (default 30 s, the
    reference's per-engine-call OCR_ENGINE_TIMEOUT, config/index.ts:24)
    is checked between kernel stages and cascade attempts; on breach the
    span completes as FAILED instead of hanging its task (the batch
    analog of asyncio.wait_for + BullMQ job failure). The
    spark.task.reaper conf in session.py is the hard backstop.

    Returns a dict matching SPAN_DETAIL_SCHEMA's media fields.
    """
    import time as _time

    deadline = (_time.monotonic() + timeout_s) if timeout_s else None

    def _timed_out() -> bool:
        return deadline is not None and _time.monotonic() > deadline

    err = validate_media(blob)
    if err is not None:
        return {"status": "failed", "error": err, "kind": "media_text", "text": None}

    bgr = None  # 3-channel frame for real color sources (LAB CLAHE path)
    if blob.startswith(SIMG_MAGIC):
        # a blob past the magic-byte gate can still be malformed (no
        # header newline, non-JSON header, truncated pixels): fail the
        # span, not the task that holds it
        try:
            meta, img = decode_simg(blob)
        except (ValueError, KeyError, TypeError) as exc:
            return {
                "status": "failed",
                "error": f"SIMG decode failed: {exc}",
                "kind": "media_text",
                "text": None,
            }
        recognizer = recognizer or StubRecognizer()
    else:
        # real jpeg/png/webp bytes: decode + real engine adapters (both
        # import-guarded — absent libraries yield a failed span, never a
        # crash; with PIL/pytesseract/paddleocr installed this is the
        # full real-image path)
        try:
            decoded = decode_real_image_any(blob)
        except (ImportError, ValueError) as exc:
            return {
                "status": "failed",
                "error": f"real-image decode unavailable: {exc}",
                "kind": "media_text",
                "text": None,
            }
        if decoded.ndim == 3:
            bgr = decoded
            img = colorspace.bgr_to_gray(bgr)
        else:
            img = decoded
        meta = {}
        recognizer = recognizer or RealRecognizer()

    # --- alignment (hybrid dispatch P12, reference hybrid.py:47-110) ---
    if bgr is not None:  # det_limit_side_len analog, channels in lockstep
        bgr = imageops.downscale_max_side(bgr)
        img = colorspace.bgr_to_gray(bgr)
    else:
        img = imageops.downscale_max_side(img)
    # Alignment mode is per-request in the reference (alignmentMode,
    # recognize.ts:21-28; hybrid.py:59-61 gates the neural try on
    # config.mode == 'neural'): the job-level default comes from
    # `alignment_mode`, overridable per blob via meta["mode"].
    mode = meta.get("mode", alignment_mode) if meta else alignment_mode
    # Neural corner detection first on the raw frame (the neural aligner
    # gets the unprocessed image, hybrid.py:67-70); the classic chain on
    # any failure, decline, or mode == 'classic'.
    warped = None
    if mode == "neural":
        try:
            nc = neural.detect_corners(img)
            if nc is not None:
                warped = imageops.warp_perspective(
                    img, imageops.order_corners(nc), warp_interp
                )
        except Exception:  # ANY neural failure → classic (hybrid.py:59-97)
            warped = None
    if warped is None:
        # Classic chain P2-P8 (aligner.py:58-175): dark-invert, then
        # CLAHE → seed point → flood-fill mask → polygon → minAreaRect.
        # The mask chain runs at a capped resolution (same engineering
        # device as downscale_max_side — flood fill and contour tracing
        # cost ~linear in pixels) and the corners scale back; the warp
        # samples the ORIGINAL (uninverted) frame, aligner.py:203-204.
        try:
            if bgr is not None:
                # COLOR classic front end: dark-invert on the gray mean
                # but over the color frame (common.py:9-18), then the
                # reference's LAB-channel CLAHE illumination chain
                # (common.py:21-33, kernels/colorspace.py); the mask
                # chain downstream runs on the equalized COLOR frame —
                # 3-D Euclidean flood-fill distance and color seed
                # homogeneity (aligner.py:386-395), so equal-luminance
                # hue boundaries stay visible.
                wbgr, _inverted = colorspace.invert_if_dark_color(bgr)
                step = max(1, -(-max(wbgr.shape[:2]) // CLASSIC_MAX_SIDE))
                small_bgr = (
                    np.ascontiguousarray(wbgr[::step, ::step])
                    if step > 1
                    else wbgr
                )
                pre_bgr = colorspace.preprocess_illumination_color(small_bgr)
                corners = align.classic_align_corners(
                    colorspace.bgr_to_gray(small_bgr), pre=pre_bgr
                ) * float(step)
            else:
                working, _inverted = imageops.invert_if_dark(img)  # P2
                step = max(1, -(-max(working.shape) // CLASSIC_MAX_SIDE))
                small = (
                    np.ascontiguousarray(working[::step, ::step])
                    if step > 1
                    else working
                )
                corners = align.classic_align_corners(small) * float(step)
            warped = imageops.warp_perspective(
                img, imageops.order_corners(corners), warp_interp
            )
        except Exception:
            # P14: the gateway's local preprocessing fallback
            # (processor.ts:139-147), in-process — bbox of the bright
            # foreground (the reference's own degenerate path).
            corners = imageops.mask_bbox_corners(img)
            warped = imageops.warp_perspective(img, corners, warp_interp)
    if _timed_out():
        return {
            "status": "failed",
            "error": f"kernel timeout after {timeout_s:.0f}s (alignment)",
            "kind": "media_text",
            "text": None,
        }
    preprocessed = imageops.preprocess_for_ocr(warped, aggressive)  # P13

    # --- QR short-circuit (R7) ---
    if meta:
        qr = try_qr(meta, accepted_qr_formats)
    else:
        qr = try_qr_real(warped, preprocessed, accepted_qr_formats)
    if qr is not None:
        return {
            "status": "completed",
            "kind": "qr",
            "text": qr["qr_data"],
            "qr_data": qr["qr_data"],
            "qr_format": qr["qr_format"],
            "qr_location": qr["qr_location"],
            "found_in_preprocessed": qr["found_in_preprocessed"],
            "error": None,
        }

    # --- OCR cascade (R6) ---
    if _timed_out():
        return {
            "status": "failed",
            "error": f"kernel timeout after {timeout_s:.0f}s (pre-cascade)",
            "kind": "media_text",
            "text": None,
        }
    try:
        res = run_cascade(
            meta, warped, preprocessed, confidence_low, recognizer,
            deadline=deadline,
        )
    except Exception as exc:  # all attempts raised → markAsFailed analog
        return {
            "status": "failed",
            "error": str(exc),
            "kind": "media_text",
            "text": None,
        }
    return {
        "status": "completed",
        "kind": "media_text",
        "text": res.text,
        "engine": res.engine,
        "confidence": round(res.confidence, 2),  # numeric(3,2), schema.ts:41
        "used_preprocessed": res.used_preprocessed,
        "error": None,
    }
