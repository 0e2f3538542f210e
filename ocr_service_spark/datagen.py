"""Deterministic synthetic interleaved-document generator.

Produces the engine's input tables at small scale (BASELINE.json: the
10^12-doc Iceberg table is synthesised deterministically for tests/bench;
no external data):

- ``documents.parquet``  — (doc_id, spans) per FIXTURES.md §1
- ``media.parquet``      — (media_ref, content, ...) blob side table
                           (MinIO analog, storage/index.ts:47-59)
- ``golden.parquet``     — expected output spans per FIXTURES.md §2,
                           computed by the sequential reference impl

Mix per FIXTURES.md §1: ~70% text/html spans, ~20% media, ~10% pdf; a 1%
tail of media-heavy docs holding a large share of media bytes (skew
fixture for cost-salted repartitioning).

Everything is a pure function of (n_docs, seed).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .golden import extract_document
from .kernels.media import encode_simg

_WORDS = (
    "receipt total market spark shuffle partition batch stream merge scan "
    "window order filter join hash sort table column vector arrow kernel "
    "quantity price tax discount store item apple bread milk coffee sugar "
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
).split()

_QR_PAYLOADS = (
    # fiscal / url / unknown mix matching the classifier inputs
    # (processor.ts:341-355)
    "t=20240101T1200&s=1234.56&fn=9999078900001234&i=1&fp=987654321&n=1",
    "https://example.com/check/{i}",
    "http://shop.example.org/r/{i}",
    "fn=7781234567890123&ofd=yes&id={i}",
    "PLAIN-CODE-{i}",
    "hello-world-{i}",
)


def _sentence(rng: np.random.Generator, n: int) -> str:
    return " ".join(rng.choice(_WORDS, size=n))


def _make_text_span(rng: np.random.Generator) -> str:
    n = int(rng.integers(10, 60))
    raw = _sentence(rng, n)
    # inject irregular whitespace so normalization has work to do
    if rng.random() < 0.5:
        words = raw.split(" ")
        k = int(rng.integers(0, len(words)))
        words[k] = words[k] + "\n\t "
        raw = " ".join(words)
    return raw


def _make_html_span(rng: np.random.Generator) -> str:
    paras = [
        f"<p>{_sentence(rng, int(rng.integers(15, 50)))}</p>"
        for _ in range(int(rng.integers(1, 4)))
    ]
    nav_links = " ".join(
        f'<a href="/{w}">{w} {w2}</a>'
        for w, w2 in zip(rng.choice(_WORDS, 6), rng.choice(_WORDS, 6))
    )
    linkfarm = " ".join(f'<a href="/{w}">{w}</a>' for w in rng.choice(_WORDS, 12))
    short = f"<div>{_sentence(rng, int(rng.integers(1, 6)))}</div>"
    return (
        "<html><head><title>t</title><style>p{color:red}</style></head><body>"
        f"<nav>{nav_links}</nav><header><div>{_sentence(rng, 4)}</div></header>"
        f"{short}" + "".join(paras) + f"<div>{linkfarm}</div>"
        f"<footer>{_sentence(rng, 8)} <a href='/x'>legal</a></footer>"
        "</body></html>"
    )


def _make_pdf_span(rng: np.random.Generator) -> str:
    """Two-column page: fragments emitted column-interleaved so XY-cut must
    reorder them. Coordinates: left col x≈40, right col x≈320, gap 80."""
    n_rows = int(rng.integers(3, 8))
    left, right = [], []
    for r in range(n_rows):
        y = 40.0 + 20.0 * r
        left.append((40.0, y, 200.0, 12.0, _sentence(rng, int(rng.integers(3, 7)))))
        right.append((320.0, y, 200.0, 12.0, _sentence(rng, int(rng.integers(3, 7)))))
    header = (40.0, 10.0, 480.0, 14.0, _sentence(rng, int(rng.integers(4, 9))))
    frags = [header]
    for pair in zip(left, right):  # interleave: L0 R0 L1 R1 ...
        frags.extend(pair)
    return "\n".join(f"{x}|{y}|{w}|{h}|{t}" for x, y, w, h, t in frags)


def _make_media_blob(
    rng: np.random.Generator,
    idx: int,
    heavy: bool,
    scale: int = 1,
    codec: str = "simg",
) -> tuple[bytes, dict]:
    side = int(rng.integers(384, 768)) if heavy else int(rng.integers(48, 160))
    # media_scale > 1 → receipt-photo-sized images for benchmarking (the
    # preprocessing kernels cost ~linear in pixels, like real OCR); cap so
    # even heavy blobs stay under the 10 MiB ingest gate
    side = min(side * scale, 2000 if heavy else 1200)
    w, h = side, int(side * float(rng.uniform(1.1, 1.8)))
    brightness = float(rng.uniform(40, 220))  # some < 100 → invert path
    pixels = np.clip(
        rng.normal(brightness, 18.0, size=(h, w)), 0, 255
    ).astype(np.uint8)
    # annotated corner quad: upstream annotation metadata the kernels do
    # NOT consume (geometry comes from pixels) — kept so every meta dict
    # carries unknown keys, pinning that kernels tolerate them
    mx, my = w // 8, h // 8
    quad = [
        [mx + float(rng.uniform(-3, 3)), my + float(rng.uniform(-3, 3))],
        [w - mx + float(rng.uniform(-3, 3)), my + float(rng.uniform(-3, 3))],
        [w - mx + float(rng.uniform(-3, 3)), h - my + float(rng.uniform(-3, 3))],
        [mx + float(rng.uniform(-3, 3)), h - my + float(rng.uniform(-3, 3))],
    ]
    perm = rng.permutation(4)  # unordered corners → exercises order_corners
    quad = [quad[int(i)] for i in perm]

    lines = [_sentence(rng, int(rng.integers(2, 6))) for _ in range(int(rng.integers(1, 5)))]
    # per-attempt confidences: ~55% first attempt passes, ~25% second,
    # ~10% third, ~10% all-below (last-resort path, processor.ts:443-474)
    roll = rng.random()
    def c(lo, hi):
        return round(float(rng.uniform(lo, hi)), 4)
    if roll < 0.55:
        conf = {"tesseract_preprocessed": c(0.6, 0.99), "paddleocr_preprocessed": c(0.3, 0.99), "paddleocr_warped": c(0.3, 0.99)}
    elif roll < 0.80:
        conf = {"tesseract_preprocessed": c(0.0, 0.59), "paddleocr_preprocessed": c(0.6, 0.99), "paddleocr_warped": c(0.3, 0.99)}
    elif roll < 0.90:
        conf = {"tesseract_preprocessed": c(0.0, 0.59), "paddleocr_preprocessed": c(0.0, 0.59), "paddleocr_warped": c(0.6, 0.99)}
    else:
        conf = {"tesseract_preprocessed": c(0.0, 0.59), "paddleocr_preprocessed": c(0.0, 0.59), "paddleocr_warped": c(0.0, 0.59)}

    meta: dict = {"w": w, "h": h, "quad": quad, "lines": lines, "conf": conf}
    if rng.random() < 0.30:  # QR-bearing images
        payload = str(rng.choice(_QR_PAYLOADS)).format(i=idx)
        meta["qr"] = {
            "data": payload,
            "location": [int(rng.integers(0, w // 2)), int(rng.integers(0, h // 2)), 21, 21],
            "in_warped": bool(rng.random() < 0.6),
            "in_preprocessed": bool(rng.random() < 0.9),
        }
    if rng.random() < 0.10:
        # per-request alignmentMode='classic' (recognize.ts:21-28) —
        # keeps the classic P3-P8 chain exercised end-to-end
        meta["mode"] = "classic"
    # ground truth captured at generation time (pre-encode): independent
    # oracle values for the multimodal decode kernels (media_metadata,
    # media_thumbnails). The thumbnail rule is the documented 16×16
    # nearest-index subsample (THUMB = 16, ops/multimodal.py) applied to
    # the pre-encode pixels — the kernel must reproduce it through the
    # codec roundtrip.
    import hashlib

    # pngc: COLOR truecolor PNG — a fixed deterministic channel tint of
    # the same gray frame (no extra rng draws, so simg/png/pngc datasets
    # share identical pixels, metadata and downstream rng state). The
    # decoders reduce color frames via the cv2-exact Rec.601 transform
    # (kernels/colorspace.bgr_to_gray), so the truth sidecar for pngc is
    # computed from THAT gray view — the frame every kernel actually sees.
    rgb = None
    pixels_dec = pixels
    if codec == "pngc":
        from .kernels.colorspace import bgr_to_gray

        f32 = pixels.astype(np.float32)
        rgb = np.stack(
            [
                np.clip(np.rint(f32 * np.float32(1.08)), 0, 255),
                f32,
                np.clip(np.rint(f32 * np.float32(0.88)), 0, 255),
            ],
            axis=-1,
        ).astype(np.uint8)
        pixels_dec = bgr_to_gray(rgb[..., ::-1])

    yi = np.clip((np.arange(16) * h) // 16, 0, h - 1)
    xi = np.clip((np.arange(16) * w) // 16, 0, w - 1)
    # difference hash (dHash): 8x9 nearest-index subsample, bit = right
    # pixel strictly brighter than its left neighbor, packed row-major
    # to 16 hex chars — same rule as ops/multimodal.py:media_dhash,
    # which must reproduce it through the codec roundtrip
    y8 = np.clip((np.arange(8) * h) // 8, 0, h - 1)
    x9 = np.clip((np.arange(9) * w) // 9, 0, w - 1)
    g = pixels_dec[np.ix_(y8, x9)].astype(np.int16)
    dbits = (g[:, 1:] > g[:, :-1]).flatten()
    dval = 0
    for bit in dbits:
        dval = (dval << 1) | int(bit)
    truth = {
        "width": w,
        "height": h,
        "mean_brightness": round(float(pixels_dec.mean()), 4),
        "n_pixels": int(pixels_dec.size),
        "thumb_md5": hashlib.md5(pixels_dec[np.ix_(yi, xi)].tobytes()).hexdigest(),
        "dhash": f"{dval:016x}",
    }
    if codec == "pngc":  # real COLOR-image path: LAB-channel CLAHE front end
        from .kernels.media import encode_png_gray

        return encode_png_gray(rgb), truth
    if codec == "png":  # real-image path (generate() docstring); the
        # codec switch happens after every rng draw, so simg/png datasets
        # share identical pixels, metadata and downstream rng state
        from .kernels.media import encode_png_gray

        return encode_png_gray(pixels), truth
    return encode_simg(meta, pixels), truth


def generate(
    out_dir: str,
    n_docs: int,
    seed: int = 42,
    media_scale: int = 1,
    png_media: int = 0,
    png_color: int = 0,
) -> dict[str, str]:
    """Generate documents/media/golden parquet under ``out_dir``.

    media_scale multiplies synthetic image dimensions (1 = tiny test
    images; 4 ≈ receipt-photo pixel counts for realistic bench cost).

    png_media > 0 re-encodes the first N media blobs as REAL PNG bytes
    (the built-in stdlib codec) instead of SIMG: those spans travel the
    real-image path end to end — decode_real_image → align → binarize →
    QR chain → RealRecognizer cascade. The golden sidecar stays valid
    automatically (extract_document runs the same per-blob kernel
    single-threaded): without OCR libraries the span completes as the
    documented failed media_text span with NULL text, with them it
    completes with engine text — either way Spark must match. The
    media_truth sidecar marks these rows codec='png' and carries their
    real decode ground truth.

    png_color > 0 (≤ png_media) makes the first N of those PNG blobs
    COLOR truecolor PNGs (codec='pngc' in media_truth): their spans
    exercise the color front end — decode_real_image_any → dark-invert
    on the gray mean → the reference's LAB-channel CLAHE illumination
    chain (kernels/colorspace.py) — before the shared mask/warp/OCR
    stages. Truth for pngc rows is computed from the Rec.601 gray view
    the kernels decode to."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    doc_ids, doc_spans = [], []
    media_refs, media_blobs, media_truth, media_codecs = [], [], [], []
    golden_rows = []
    media_lookup: dict[str, bytes] = {}
    media_idx = 0

    heavy_docs = set(
        rng.choice(n_docs, size=max(1, n_docs // 100), replace=False).tolist()
    )

    for d in range(n_docs):
        doc_id = f"doc-{seed}-{d:08d}"
        heavy = d in heavy_docs
        n_spans = int(rng.integers(6, 12)) if heavy else int(rng.integers(1, 8))
        spans = []
        offsets = rng.permutation(n_spans)  # input array order ≠ offset order
        for slot in range(n_spans):
            roll = rng.random()
            if heavy and slot > 0:
                kind = "media" if roll < 0.7 else "text"
            elif roll < 0.45:
                kind = "text"
            elif roll < 0.70:
                kind = "html"
            elif roll < 0.80:
                kind = "pdf"
            else:
                kind = "media"
            offset = int(offsets[slot])
            if kind == "media":
                ref = f"mem://img/{seed}/{media_idx:08d}"
                if media_idx < png_color:
                    codec = "pngc"
                elif media_idx < png_media:
                    codec = "png"
                else:
                    codec = "simg"
                blob, truth = _make_media_blob(
                    rng, media_idx, heavy, media_scale, codec
                )
                media_refs.append(ref)
                media_blobs.append(blob)
                media_truth.append(truth)
                media_codecs.append(codec)
                media_lookup[ref] = blob
                media_idx += 1
                spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": offset})
            else:
                maker = {"text": _make_text_span, "html": _make_html_span, "pdf": _make_pdf_span}[kind]
                spans.append({"kind": kind, "text": maker(rng), "media_ref": None, "offset": offset})
        doc_ids.append(doc_id)
        doc_spans.append(spans)
        golden_rows.append(extract_document(spans, media_lookup))

    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    out_span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("order", pa.int32())]
    )
    docs_tbl = pa.table(
        {"doc_id": pa.array(doc_ids, pa.string()), "spans": pa.array(doc_spans, pa.list_(span_t))}
    )
    media_tbl = pa.table(
        {
            "media_ref": pa.array(media_refs, pa.string()),
            "content": pa.array(media_blobs, pa.binary()),
            "file_size": pa.array([len(b) for b in media_blobs], pa.int32()),
            "mime_type": pa.array(
                [f"image/{c}" for c in media_codecs], pa.string()
            ),
            "width": pa.array([None] * len(media_blobs), pa.int32()),
            "height": pa.array([None] * len(media_blobs), pa.int32()),
        }
    )
    golden_tbl = pa.table(
        {"doc_id": pa.array(doc_ids, pa.string()), "spans": pa.array(golden_rows, pa.list_(out_span_t))}
    )

    truth_tbl = pa.table(
        {
            "media_ref": pa.array(media_refs, pa.string()),
            "width": pa.array([t["width"] for t in media_truth], pa.int32()),
            "height": pa.array([t["height"] for t in media_truth], pa.int32()),
            "mean_brightness": pa.array(
                [t["mean_brightness"] for t in media_truth], pa.float64()
            ),
            "n_pixels": pa.array([t["n_pixels"] for t in media_truth], pa.int64()),
            "codec": pa.array(media_codecs, pa.string()),
            "file_size": pa.array([len(b) for b in media_blobs], pa.int32()),
            "thumb_md5": pa.array(
                [t["thumb_md5"] for t in media_truth], pa.string()
            ),
            "dhash": pa.array([t["dhash"] for t in media_truth], pa.string()),
        }
    )

    paths = {
        "documents": os.path.join(out_dir, "documents.parquet"),
        "media": os.path.join(out_dir, "media.parquet"),
        "golden": os.path.join(out_dir, "golden.parquet"),
        "media_truth": os.path.join(out_dir, "media_truth.parquet"),
    }
    # small row groups → the files are splittable into parallel scan tasks,
    # matching how a production table arrives (many files/row groups); a
    # single-row-group file serializes the first stage of every consumer
    pq.write_table(docs_tbl, paths["documents"], row_group_size=256)
    pq.write_table(media_tbl, paths["media"], row_group_size=16)
    pq.write_table(golden_tbl, paths["golden"], row_group_size=256)
    pq.write_table(truth_tbl, paths["media_truth"], row_group_size=256)
    return paths


_RECEIPT_ITEMS = (
    # digit-free names, none containing a total/tax keyword (total, tax,
    # итог, сумма, ндс, vat) so spec-side classification is unambiguous
    "apple", "bread pack", "milk", "coffee beans", "sugar",
    "чай зелёный", "orange juice", "butter",
)
_RECEIPT_WARN = "total not found; subtotal from items"


def _amount(rng: np.random.Generator, comma: bool = False) -> tuple[str, float]:
    """Render a price string and the exact float the parser will produce
    for it (float() over the dot-normalized rendered text, so the sidecar
    and the engine share bit-identical values)."""
    cents = int(rng.integers(5, 99999))
    s = f"{cents // 100}.{cents % 100:02d}"
    return (s.replace(".", ",") if comma else s), float(s)


def generate_receipts(out_dir: str, n: int, seed: int = 42) -> dict[str, str]:
    """Deterministic receipt-text corpus + generation-time expected
    structured records (the golden.parquet pattern) for the R8 structuring
    stage. Eight variants cover the HeuristicStructurer's decision
    surface: full receipt w/ ISO date + tax + total; items w/o total
    (subtotal + warning); plain note; ru keywords + comma decimals +
    dotted date; empty text; whitespace/bare-amount/keyword-noise lines
    incl. the subtotal-then-total overwrite; tax-only; duplicate date
    lines (first wins).

    The expected sidecar is computed from the SPEC (render-time
    arithmetic over the same parsed floats, in render order) — an
    independent derivation from the line parser in kernels/structuring.py
    — and stores the final driver-comparable projection: strings
    coalesced to '', doubles to -1.0, items/warnings as JSON text
    (reference schema prompt.txt:147-163)."""
    import json

    rng = np.random.default_rng(seed + 101)  # stream independent of generate()
    doc_ids, texts, expected = [], [], []
    for i in range(n):
        v = i % 8
        doc_id = f"r-{seed}-{i:06d}"
        lines: list[str] = []
        items: list[tuple[str, float]] = []
        merchant = date = None
        subtotal = tax = total = None
        warnings: list[str] = []

        def add_items(k: int, comma: bool = False) -> None:
            for name in rng.choice(_RECEIPT_ITEMS, size=k, replace=False):
                s, val = _amount(rng, comma)
                lines.append(f"{name} {s}")
                items.append((str(name), val))

        if v == 0:  # full receipt: ISO date, items, tax, Total
            merchant = f"Shop {i}"
            lines.append(merchant)
            m, d = int(rng.integers(1, 13)), int(rng.integers(1, 29))
            date = f"2024-{m:02d}-{d:02d}"
            lines.append(date)
            add_items(int(rng.integers(2, 5)))
            ts, tax = _amount(rng)
            lines.append(f"tax {ts}")
            s, total = _amount(rng)
            lines.append(f"Total {s}")
        elif v == 1:  # items but no total -> subtotal + warning
            merchant = f"Market {i}"
            lines.append(merchant)
            add_items(int(rng.integers(1, 4)))
        elif v == 2:  # plain note, no structure
            merchant = f"plain note {i} spark shuffle"
            lines.append(merchant + "   ")
        elif v == 3:  # ru keywords, comma decimals, dotted date
            merchant = f"Кафе {i}"
            lines.append(merchant)
            m, d = int(rng.integers(1, 13)), int(rng.integers(1, 29))
            lines.append(f"{d:02d}.{m:02d}.2024")
            date = f"2024-{m:02d}-{d:02d}"
            add_items(int(rng.integers(1, 3)), comma=True)
            s, total = _amount(rng, comma=True)
            lines.append(f"итог {s}")
        elif v == 4:  # empty text
            pass
        elif v == 5:  # noise: blanks, bare amount, keyword-no-amount,
            # subtotal line then Total line (last assignment wins)
            merchant = f"Corner Store {i}"
            lines.extend(["", "   ", merchant, "5.00", "total pending"])
            add_items(int(rng.integers(1, 3)))
            s_sub, _sub_val = _amount(rng)
            lines.append(f"subtotal {s_sub}")  # 'total' substring -> total
            s, total = _amount(rng)
            lines.append(f"Total {s}")
        elif v == 6:  # tax only, no items -> low confidence
            merchant = f"Store {i}"
            lines.append(merchant)
            ts, tax = _amount(rng)
            lines.append(f"vat {ts}")
        else:  # v == 7: two date lines, first wins; no total
            merchant = f"Deli {i}"
            lines.append(merchant)
            m, d = int(rng.integers(1, 13)), int(rng.integers(1, 29))
            date = f"2024-{m:02d}-{d:02d}"
            lines.append(date)
            lines.append(f"{int(rng.integers(1, 29)):02d}.{int(rng.integers(1, 13)):02d}.2023")
            add_items(int(rng.integers(1, 3)))

        if total is None and items:
            subtotal = round(sum(val for _, val in items), 2)
            warnings.append(_RECEIPT_WARN)
        confidence = "high" if items and total is not None else ("medium" if items else "low")
        doc_ids.append(doc_id)
        texts.append("\n".join(lines))
        expected.append(
            {
                "doc_id": doc_id,
                "span_order": 0,
                "merchant": merchant or "",
                "date": date or "",
                "items": json.dumps(
                    [
                        {"name": nm, "quantity": None, "price": None, "total": val}
                        for nm, val in items
                    ],
                    sort_keys=True,
                ),
                "subtotal": subtotal if subtotal is not None else -1.0,
                "tax": tax if tax is not None else -1.0,
                "total": total if total is not None else -1.0,
                "confidence": confidence,
                "warnings": json.dumps(warnings, separators=(",", ":")),
                "error": "",
            }
        )

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "receipts": os.path.join(out_dir, "receipts.parquet"),
        "receipts_expected": os.path.join(out_dir, "receipts_expected.parquet"),
    }
    pq.write_table(
        pa.table({"doc_id": pa.array(doc_ids), "text": pa.array(texts)}),
        paths["receipts"],
        row_group_size=128,
    )
    exp_tbl = pa.table(
        {
            "doc_id": pa.array([e["doc_id"] for e in expected], pa.string()),
            "span_order": pa.array([e["span_order"] for e in expected], pa.int32()),
            "merchant": pa.array([e["merchant"] for e in expected], pa.string()),
            "date": pa.array([e["date"] for e in expected], pa.string()),
            "items": pa.array([e["items"] for e in expected], pa.string()),
            "subtotal": pa.array([e["subtotal"] for e in expected], pa.float64()),
            "tax": pa.array([e["tax"] for e in expected], pa.float64()),
            "total": pa.array([e["total"] for e in expected], pa.float64()),
            "confidence": pa.array([e["confidence"] for e in expected], pa.string()),
            "warnings": pa.array([e["warnings"] for e in expected], pa.string()),
            "error": pa.array([e["error"] for e in expected], pa.string()),
        }
    )
    pq.write_table(exp_tbl, paths["receipts_expected"], row_group_size=128)
    return paths


def ensure_receipts(out_dir: str, n: int, seed: int = 42) -> dict[str, str]:
    """Generate-once wrapper for the receipt corpus (pure function of
    (n, seed); marker presence implies validity)."""
    marker = os.path.join(out_dir, f".receipts-v1-{n}-{seed}")
    paths = {
        "receipts": os.path.join(out_dir, "receipts.parquet"),
        "receipts_expected": os.path.join(out_dir, "receipts_expected.parquet"),
    }
    if os.path.exists(marker) and all(os.path.exists(p) for p in paths.values()):
        return paths
    paths = generate_receipts(out_dir, n, seed)
    with open(marker, "w") as fh:
        fh.write("ok")
    return paths


def ensure_dataset(
    out_dir: str,
    n_docs: int,
    seed: int = 42,
    media_scale: int = 1,
    png_media: int = 0,
    png_color: int = 0,
) -> dict[str, str]:
    """Generate once, reuse across test sessions (content is a pure
    function of (n_docs, seed), so presence implies validity)."""
    # marker version bumps force regeneration when generated content
    # changes (v3: small row groups; v4: per-blob alignment modes;
    # v5: media_truth ground-truth sidecar; v6: thumb_md5 truth column;
    # v7: dhash truth column; v8: true 3-D color flood fill — pngc
    # golden spans change)
    marker = os.path.join(
        out_dir,
        f".complete-v8-{n_docs}-{seed}-{media_scale}"
        + (f"-png{png_media}" if png_media else "")
        + (f"-pngc{png_color}" if png_color else ""),
    )
    paths = {
        "documents": os.path.join(out_dir, "documents.parquet"),
        "media": os.path.join(out_dir, "media.parquet"),
        "golden": os.path.join(out_dir, "golden.parquet"),
        "media_truth": os.path.join(out_dir, "media_truth.parquet"),
    }
    if os.path.exists(marker) and all(os.path.exists(p) for p in paths.values()):
        return paths
    paths = generate(out_dir, n_docs, seed, media_scale, png_media, png_color)
    with open(marker, "w") as fh:
        fh.write("ok")
    return paths


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--media-scale", type=int, default=1)
    ap.add_argument("--png-media", type=int, default=0)
    ap.add_argument("--png-color", type=int, default=0)
    a = ap.parse_args()
    print(
        generate(
            a.out_dir, a.n_docs, a.seed, a.media_scale, a.png_media, a.png_color
        )
    )
