"""Differential test of the media branch's two blob sources: a corpus of
deterministic malformed and edge-case SIMG/PNG blobs (the shapes
test_media_fuzz.py draws) extracts to the same output and the same
recognition records whether the blobs are read directly from the parquet
row groups (bare scan) or through the Arrow fallback (filtered frame)."""

from __future__ import annotations

import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_service_spark.config import ExtractConfig
from ocr_service_spark.kernels.media import PNG_MAGIC, SIMG_MAGIC, encode_png_gray
from ocr_service_spark.pipeline.extract import (
    _direct_read_splits,
    load_inputs,
    run_extract,
    split_media_results,
)

_EDGE_DIMS = [(0, 0), (1, 1), (1, 4000), (4000, 1), (2, 1)]
_SCALARS = [None, True, -5, 4999, 0.5, "x", ""]


def _simg(rng: random.Random) -> bytes:
    """An SIMG1 blob past the magic-byte gate: fuzzed header fields, and
    declared h/w sometimes off from the pixel payload."""
    if rng.random() < 0.4:
        h, w = rng.choice(_EDGE_DIMS)
    else:
        h, w = rng.randint(0, 48), rng.randint(0, 48)
    meta: dict = {}
    if rng.random() < 0.6:
        meta["lines"] = rng.choice([["total 12"], ["", "alpha beta"], rng.choice(_SCALARS)])
    if rng.random() < 0.6:
        meta["conf"] = rng.choice(
            [{"tesseract_preprocessed": rng.random()}, {"paddleocr_warped": "x"}, rng.choice(_SCALARS)]
        )
    if rng.random() < 0.5:
        quad = [[rng.randint(-20, 200), rng.randint(-20, 200)] for _ in range(4)]
        meta["quad"] = rng.choice([quad, [[1]], rng.choice(_SCALARS)])
    if rng.random() < 0.4:
        meta["mode"] = rng.choice(["neural", "classic", 3])
    if rng.random() < 0.4:
        meta["qr"] = rng.choice(
            [
                {"data": "https://r.example/1", "location": [1, 2, 30, 30]},
                {"data": 7, "location": [5]},
                ["a"],
                rng.choice(_SCALARS),
            ]
        )
    meta["h"], meta["w"] = rng.choice([(h, w), (h + 1, w), (w, h)])
    fill = rng.choice(["flat", "noise", "frame"])
    if fill == "flat":
        pixels = np.full((h, w), rng.randint(0, 255), np.uint8)
    elif fill == "noise":
        pixels = np.random.default_rng(rng.randint(0, 3)).integers(0, 256, (h, w), dtype=np.uint8)
    else:  # a bright page on a dark background: the alignment chain's shape
        pixels = np.full((h, w), 20, np.uint8)
        pixels[h // 4 : h - h // 4, w // 4 : w - w // 4] = 220
    head = json.dumps(meta, separators=(",", ":")).encode()
    return SIMG_MAGIC + head + b"\n" + pixels.tobytes()


def _png(rng: random.Random) -> bytes:
    """A gray or RGB PNG, sometimes empty, truncated or with a flipped byte."""
    h, w = rng.choice([(0, 0), (0, 12), (1, 1), (3, 40), (24, 24), (40, 3)])
    shape = (h, w, 3) if rng.random() < 0.5 else (h, w)
    pixels = np.random.default_rng(rng.randint(0, 3)).integers(0, 256, shape, dtype=np.uint8)
    blob = encode_png_gray(pixels)
    damage = rng.choice(["none", "truncate", "flip"])
    if damage == "truncate":
        return blob[: rng.randint(len(PNG_MAGIC), len(blob) - 1)]
    if damage == "flip":
        i = rng.randrange(len(PNG_MAGIC), len(blob))
        return blob[:i] + bytes([blob[i] ^ 0xFF]) + blob[i + 1 :]
    return blob


def _fuzz_blobs(seed: int = 17) -> list[bytes | None]:
    rng = random.Random(seed)
    fixed = [None, b"", SIMG_MAGIC, SIMG_MAGIC + b"{not json\n", PNG_MAGIC, b"GIF89a\x00\x01"]
    return [_simg(rng) for _ in range(24)] + [_png(rng) for _ in range(12)] + fixed


def _write_corpus(data_dir) -> int:
    """media.parquet with 3-row groups, and documents that reference every
    blob (some twice) between text spans, plus one dangling reference."""
    blobs = _fuzz_blobs()
    refs = [f"fz{i:03d}" for i in range(len(blobs))]
    pq.write_table(
        pa.table(
            {
                "media_ref": pa.array(refs, pa.string()),
                "content": pa.array(blobs, pa.binary()),
            }
        ),
        f"{data_dir}/media.parquet",
        row_group_size=3,
    )
    doc_refs = {f"d{i:02d}": refs[i : i + 3] for i in range(0, len(refs), 3)}
    doc_refs.update(every7th=refs[::7], dangling=["GONE"])
    docs = []
    for doc_id, media_refs in doc_refs.items():
        spans = [{"kind": "text", "text": f"doc  {doc_id}", "media_ref": None, "offset": 0}]
        spans += [
            {"kind": "media", "text": None, "media_ref": r, "offset": k + 1}
            for k, r in enumerate(media_refs)
        ]
        docs.append({"doc_id": doc_id, "spans": spans[::-1]})
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
                "spans": pa.array([d["spans"] for d in docs], pa.list_(span_t)),
            }
        ),
        f"{data_dir}/documents.parquet",
    )
    return len(blobs)


def _run(spark, docs, media):
    output, results = run_extract(spark, docs, media, ExtractConfig(run_id="diff"))
    spans = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in output.collect()
    }
    records = split_media_results(results)[1].select("media_ref", "status", "kind", "error")
    return spans, sorted(tuple(r) for r in records.collect())


def test_blob_sources_agree_on_fuzzed_corpus(spark, tmp_path):
    n_blobs = _write_corpus(tmp_path)
    assert n_blobs >= 30
    docs, media = load_inputs(spark, str(tmp_path))
    filtered = media.filter(F.col("media_ref").isNotNull())
    assert _direct_read_splits(media) is not None  # bare scan: direct read
    assert _direct_read_splits(filtered) is None  # Arrow fallback

    direct = _run(spark, docs, media)
    arrow = _run(spark, docs, filtered)
    assert direct == arrow
    spans, records = direct
    assert len(records) == n_blobs
    # the corpus reaches both outcomes, and the dangling ref keeps the
    # failed-span shape
    assert {status for _, status, _, _ in records} == {"completed", "failed"}
    assert spans["dangling"] == [
        ("text", "doc dangling", None, 0),
        ("media_text", None, "GONE", 1),
    ]
