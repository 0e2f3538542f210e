"""Engine configuration constants.

Every constant that mirrors reference behavior carries its source citation
(file:line into /root/reference/) so parity is checkable.
"""

from __future__ import annotations

from dataclasses import dataclass

# --- recognition gates -----------------------------------------------------
# reference: services/gateway/src/platform/config/index.ts:26-27 (defaults
# 0.7 high / 0.6 low); docker-compose.yml:160-161 keeps gateway at 0.7/0.6.
# Only the low gate decides anything in the batch job (the cascade stops
# at the first attempt that clears it).
CONFIDENCE_THRESHOLD_LOW = 0.6

# --- ingest validation -----------------------------------------------------
# reference: services/gateway/src/services/ocr.ts:42-49 (jpeg/png/webp, 10 MB)
MAX_MEDIA_BYTES = 10 * 1024 * 1024
ALLOWED_MEDIA_MAGIC = (b"SIMG1\n", b"\xff\xd8\xff", b"\x89PNG", b"RIFF")

# --- preprocessing constants (aligner service) ------------------------------
# reference: services/aligner/src/services/common.py:14 — invert dark receipts
DARK_INVERT_MEAN_THRESHOLD = 100.0
# reference: common.py:73-75 — warp output: 1.5x max edge, min 64 px
WARP_SCALE = 1.5
WARP_MIN_SIZE = 64
# reference: aligner.py:391-395 — flood-fill tolerance clip range
TOLERANCE_MIN = 10.0
TOLERANCE_MAX = 65.0
# reference: aligner.py:330-340 — receipt contour aspect filter 1 < h/w < 6
ASPECT_MIN = 1.0
ASPECT_MAX = 6.0
# reference: common.py:103-114 — adaptive Gaussian threshold profiles:
# gentle block 15, C 5, close 2×2; aggressive block 31, C 10, open 1×1
BINARIZE_BLOCK = 15
BINARIZE_C = 5
BINARIZE_BLOCK_AGGRESSIVE = 31
BINARIZE_C_AGGRESSIVE = 10

# --- timeouts ---------------------------------------------------------------
# reference: services/gateway/src/platform/config/index.ts:24 — 30 s per
# engine call (OCR_ENGINE_TIMEOUT), enforced via asyncio.wait_for in every
# service route (aligner.py:173-180, tesseract ocr.py:82-90).
KERNEL_TIMEOUT_S = 30.0

# --- engine cascade ---------------------------------------------------------
# reference: services/gateway/src/services/processor.ts:371-390 — attempt
# order: tesseract+preprocessed, paddleocr+preprocessed, paddleocr+warped.
CASCADE_ATTEMPTS = (
    ("tesseract", "preprocessed"),
    ("paddleocr", "preprocessed"),
    ("paddleocr", "warped"),
)

# --- Arrow batching ---------------------------------------------------------
# Two caps, one per row shape (SURVEY.md §4): narrow text rows batch by
# record count; blob-carrying rows hit the byte cap first so a batch of
# images never exceeds ~32 MiB in the python worker.
ARROW_MAX_RECORDS_PER_BATCH = 8192
ARROW_MAX_BYTES_PER_BATCH = 32 * 1024 * 1024


@dataclass(frozen=True)
class ExtractConfig:
    """Runtime config for the extraction pipeline."""

    confidence_low: float = CONFIDENCE_THRESHOLD_LOW
    accepted_qr_formats: tuple[str, ...] | None = None  # None → accept all
    # binarization profile (AlignmentConfig.aggressive, models/config.py:11-16)
    aggressive: bool = False
    # warp resampling: 'nearest' (fast default, documented tradeoff) or
    # 'cubic' (the reference's INTER_CUBIC, Keys a=-0.75)
    warp_interp: str = "nearest"
    # alignment mode default (per-request alignmentMode in the reference,
    # recognize.ts:21-28); blobs may override via meta["mode"]
    alignment_mode: str = "neural"
    # per-image soft deadline (Q9): reference bounds every engine call at
    # 30 s (config/index.ts:24, asyncio.wait_for at aligner.py:173-180)
    kernel_timeout_s: float = KERNEL_TIMEOUT_S
    run_id: str = "run-0"

    def __post_init__(self) -> None:
        # fail fast: a typo'd enum would otherwise silently change the
        # kernel path (mode != 'neural' routes classic)
        if self.alignment_mode not in ("neural", "classic"):
            raise ValueError(f"alignment_mode must be neural|classic, got {self.alignment_mode!r}")
        if self.warp_interp not in ("nearest", "cubic"):
            raise ValueError(f"warp_interp must be nearest|cubic, got {self.warp_interp!r}")
        if not 0.0 <= self.confidence_low <= 1.0:
            raise ValueError(f"confidence_low out of [0,1]: {self.confidence_low}")
