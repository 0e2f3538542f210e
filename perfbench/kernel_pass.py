"""Single-process kernel pass for the traced run.

Runs ``extract_media_span`` over every blob of the corpus and the text,
HTML and PDF kernels over every textual span, in this process with no
Spark around them. The module attributes ``extract_media_span`` calls
are wrapped for the duration of the pass, so each stage of the media
kernel is timed where it runs; the wrappers are removed afterwards.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import pyarrow.parquet as pq

# (module, attribute, metric) for every stage extract_media_span calls
_MEDIA_STAGES = (
    ("media", "decode_simg", "decode"),
    ("neural", "detect_corners", "neural"),
    ("align", "classic_align_corners", "classic"),
    ("imageops", "warp_perspective", "warp"),
    ("imageops", "preprocess_for_ocr", "binarize"),
    ("media", "try_qr", "qr"),
    ("media", "run_cascade", "ocr"),
)


def _percentile(sorted_vals: list[float], q: float) -> float:
    if not sorted_vals:
        return 0.0
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def run(corpus_dir: str) -> tuple[dict[str, float], float]:
    """Per-layer kernel metrics, and the summed per-blob kernel wall in ms."""
    from ocr_service_spark.config import ExtractConfig
    from ocr_service_spark.kernels import align, html, imageops, media, neural, pdf, text

    modules = {"media": media, "neural": neural, "align": align, "imageops": imageops}
    ms: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    qr_hits = 0

    def wrap(name, fn):
        def timed(*a, **kw):
            nonlocal qr_hits
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                ms[name] += (time.perf_counter() - t0) * 1000.0
                calls[name] += 1
            if name == "qr" and out is not None:
                qr_hits += 1
            return out

        return timed

    saved = []
    for mod, attr, name in _MEDIA_STAGES:
        fn = getattr(modules[mod], attr)
        saved.append((modules[mod], attr, fn))
        setattr(modules[mod], attr, wrap(name, fn))
    cfg = ExtractConfig()
    blob_ms: list[float] = []
    try:
        blobs = pq.read_table(os.path.join(corpus_dir, "media.parquet"), columns=["content"])
        for blob in blobs.column("content").to_pylist():
            t0 = time.perf_counter()
            media.extract_media_span(
                blob,
                cfg.confidence_low,
                cfg.accepted_qr_formats,
                aggressive=cfg.aggressive,
                timeout_s=cfg.kernel_timeout_s,
                warp_interp=cfg.warp_interp,
                alignment_mode=cfg.alignment_mode,
            )
            blob_ms.append((time.perf_counter() - t0) * 1000.0)
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)

    text_kernels = {
        "text": ("normalize", text.normalize_text),
        "html": ("html", html.strip_boilerplate),
        "pdf": ("pdf", pdf.reconstruct_reading_order),
    }
    text_ms: dict[str, float] = defaultdict(float)
    n_spans = 0
    docs = pq.read_table(os.path.join(corpus_dir, "documents.parquet"), columns=["spans"])
    for spans in docs.column("spans").to_pylist():
        for s in spans:
            if s["kind"] in text_kernels:
                name, fn = text_kernels[s["kind"]]
                t0 = time.perf_counter()
                fn(s["text"])
                text_ms[name] += (time.perf_counter() - t0) * 1000.0
                n_spans += 1

    blob_ms.sort()
    out = {f"media.{name}_ms": ms[name] for _, _, name in _MEDIA_STAGES}
    out.update(
        {
            "media.blob_ms_p50": _percentile(blob_ms, 0.5),
            "media.blob_ms_tail": _percentile(blob_ms, 0.95),
            "media.classic_fallbacks": float(calls["classic"]),
            "media.qr_short_circuits": float(qr_hits),
            "media.binarize_useful_ratio": (
                calls["ocr"] / calls["binarize"] if calls["binarize"] else 0.0
            ),
            "text.normalize_ms": text_ms["normalize"],
            "text.html_ms": text_ms["html"],
            "text.pdf_ms": text_ms["pdf"],
            "text.spans": float(n_spans),
        }
    )
    return out, sum(blob_ms)
