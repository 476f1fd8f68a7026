"""Raster preprocessing path — SURVEY §2.7 (S2 render + R1-R4).

Reimplements the reference's page-image preprocessing semantics
(renderer.py:37-242) as pure-numpy kernels wired into Spark
``mapInPandas`` stages over a binary page-bitmap column — the same
opaque-binary-column shape as datapipe/multimodal.py, which is the
correct 100 TB shape: embarrassingly parallel, zero shuffle, Arrow
batch transfer, column-pruned scans (only ``payload`` + keys ship to
Python).

What is REAL vs what is a stand-in (the container has no poppler /
tesseract / cv2):

  - S2 ``render_pdf_pages`` (renderer.py:37-73): the pdf2image call
    is replaced by a DETERMINISTIC synthetic rasteriser that draws a
    document-like page (header band + seeded text-line bands) and
    encodes it as a real 24-bit BMP.  Everything around it — the
    per-page schema (page_index, width, height, dpi), the binary
    payload column, the Arrow/mapInPandas plumbing — is real.
  - R1 ``detect_and_fix_orientation`` (renderer.py:78-100): Tesseract
    OSD is replaced by projection-profile orientation detection
    (axis choice by row-sum variance, 0-vs-180 flip by ink-mass
    asymmetry — the classic Postl-style method).  The DECISION RULE
    is the reference's: rotate only when rotation != 0 and
    confidence > 0.5 (renderer.py:90).
  - R2 ``detect_and_fix_skew`` (renderer.py:105-161): Canny +
    HoughLinesP median-angle is replaced by projection-profile shear
    search (maximise row-sum variance over a ±15° grid).  The
    decision rule is the reference's: correct only when
    0.5 < |angle| < 15 (renderer.py:141).
  - R3 ``apply_enhancement`` (renderer.py:166-216): the four
    confidence-keyed profiles with the same thresholds and structure
    — A CLAHE(2.0) at conf>=0.85, B adaptive-gaussian-threshold(11,2)
    at >=0.70, C bilateral(9,75,75)+sharpen+adaptive-threshold at
    >=0.50, else D CLAHE(4.0)+2x2-morph-open+Otsu — with cv2
    primitives re-implemented in numpy (tile-interpolated CLAHE,
    separable gaussian local mean, shift-stacked bilateral, Otsu).
    Semantic parity, not cv2 bit-parity.
  - R4 ``preprocess_page`` (renderer.py:221-242): orientation → skew
    → enhancement, with enhancement SKIPPED when mean confidence
    >= 0.85 (renderer.py:239-240) — so profile A is reachable only by
    calling apply_enhancement directly, exactly as in the reference.

Correctness gating: pages are synthesised with known ground-truth
(rotation, skew on the detector's 0.25° grid, confidence bucket); the
engine detects from PIXELS ONLY, and the DuckDB oracle re-derives the
expected outputs from the snapshot's parameter columns — so a
detection defect (wrong rot90 direction, off-by-one shear, wrong
profile ladder) breaks the driver value-hash.
"""

from __future__ import annotations

import hashlib
import math
from typing import Callable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..parallel import barrier
from .multimodal import decode_bmp, encode_bmp

# ── page geometry / parameter grids (shared with the SQL oracle) ────
PAGE_DPI = 96                      # scaled stand-in for the 300-dpi render
BASE_W = (224, 256, 288)           # seeded page widths
BASE_H = (160, 192, 224)           # seeded page heights
SKEW_STEP_MILLI = 250              # 0.25° detector grid
SKEW_MAX_MILLI = 15000             # ±15° search range (renderer.py:141)
CONF_BASES = (900000, 780000, 600000, 400000)   # micros: none/B/C/D buckets
# affine parameter mixers (same spirit as multimodal.PIX_A family)
RR_A, RS_A, RC_A, RW_A, RH_A, RL_A = 2654435761, 40503, 69621, 362437, 104729, 7919
RENDER_LIMIT = 1024                # documents rendered per call
CLAHE_TILES = 8                    # tiles per axis

PAGES_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("page_index", IntegerType(), False),
    StructField("payload", BinaryType(), False),
    StructField("width", IntegerType(), False),    # as-stored (rotated) dims
    StructField("height", IntegerType(), False),
    StructField("dpi", IntegerType(), False),
    # ground-truth synthesis parameters — carried for the ORACLE only;
    # preprocess_pages never reads them
    StructField("rot_deg", IntegerType(), False),
    StructField("skew_milli", LongType(), False),
    StructField("conf_micros", LongType(), False),
    StructField("base_w", IntegerType(), False),
    StructField("base_h", IntegerType(), False),
])

PREPROC_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("width", IntegerType(), True),      # corrected (upright) dims
    StructField("height", IntegerType(), True),
    StructField("orientation_detected", IntegerType(), True),
    StructField("orientation_conf_milli", LongType(), True),
    StructField("rotation_applied", BooleanType(), True),
    StructField("skew_milli", LongType(), True),
    StructField("skew_applied", BooleanType(), True),
    StructField("profile", StringType(), True),
    StructField("out_sha256", StringType(), True),
    StructField("ink_ratio_micros", LongType(), True),
])


def page_params(seed: int) -> dict:
    """Deterministic synthesis parameters from an integer seed.

    Mixers are coprime multipliers so the (rotation, skew, confidence,
    size) axes decorrelate across consecutive seeds."""
    rot_deg = 90 * ((seed * RR_A) % 4)
    skew_milli = ((seed * RS_A) % (2 * (SKEW_MAX_MILLI // SKEW_STEP_MILLI) + 1)
                  - SKEW_MAX_MILLI // SKEW_STEP_MILLI) * SKEW_STEP_MILLI
    if abs(skew_milli) == SKEW_STEP_MILLI:
        # ±0.25° is degenerate on the narrower page sizes: the integer
        # shear shifts no ink column (max offset < 0.5 px), making the
        # true angle pixel-identical to 0 — synthesise 0 instead so the
        # ground truth stays recoverable from pixels
        skew_milli = 0
    conf_micros = CONF_BASES[(seed * RC_A) % 4] + (seed * RL_A) % 40000
    return {
        "rot_deg": int(rot_deg),
        "skew_milli": int(skew_milli),
        "conf_micros": int(conf_micros),
        "base_w": BASE_W[(seed * RW_A) % 3],
        "base_h": BASE_H[(seed * RH_A) % 3],
    }


# ── synthetic rasteriser (the deterministic pdf2image stand-in) ─────

def synth_upright(seed: int, w: int, h: int) -> np.ndarray:
    """Draw an upright grayscale 'document page': white background, a
    heavy dark header band in the top quarter (the 0-vs-180 flip
    signal), and seeded horizontal text-line bands in the middle.
    Content keeps >=25% vertical margin so a ±15° shear never clips
    ink off the page (max column shift = tan(15°)·w/2 < h/4 for the
    page sizes used here)."""
    page = np.full((h, w), 255, dtype=np.uint8)
    x0, x1 = w // 16, w - w // 16
    top = h // 4
    # header band: rows [top, top + h//8)
    hdr_h = h // 8
    page[top:top + hdr_h, x0:x1] = 20
    # text-line bands between header and the 3/4 line
    y = top + hdr_h + 6
    limit = 3 * h // 4
    s = seed * 1000003 + 12345
    while y + 3 < limit:
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        thick = 2 + (s >> 5) % 2
        shade = 60 + (s >> 17) % 120
        indent = (s >> 29) % (w // 8)
        page[y:y + thick, x0 + indent:x1] = shade
        y += thick + 4 + (s >> 41) % 4
    return page


def _col_shifts(w: int, milli: int) -> np.ndarray:
    """Per-column integer vertical shift for a shear of angle
    milli/1000 degrees: d(x) = round(tan(θ)·(x − w//2)) — positive
    angle pushes right-side columns DOWN (image y grows downward),
    matching the reference's line-angle convention
    (arctan2(y2−y1, x2−x1), renderer.py:130)."""
    t = math.tan(math.radians(milli / 1000.0))
    xs = np.arange(w) - w // 2
    return np.rint(t * xs).astype(np.int64)


def shear(img: np.ndarray, milli: int) -> np.ndarray:
    """Apply the integer-column shear (the synthesis direction); pixels
    shifted in are white."""
    h, w = img.shape
    out = np.full_like(img, 255)
    shifts = _col_shifts(w, milli)
    for s in np.unique(shifts):
        cols = shifts == s
        if s >= 0:
            out[s:, cols] = img[:h - s, cols]
        else:
            out[:h + s, cols] = img[-s:, cols]
    return out


def unshear(img: np.ndarray, milli: int) -> np.ndarray:
    """Inverse of shear (the correction direction): exact on any ink
    that stayed in-frame, which the synth margins guarantee."""
    return shear(img, -milli)


def _gray_bmp(img: np.ndarray) -> bytes:
    """A grayscale page as 24-bit BMP bytes (r == g == b)."""
    return encode_bmp(np.ascontiguousarray(np.repeat(img[:, :, None], 3, axis=2)))


def render_page(seed: int) -> Tuple[bytes, dict]:
    """Full synthetic render: upright draw → shear by the ground-truth
    skew → rot90 by the ground-truth rotation → BMP bytes."""
    p = page_params(seed)
    img = synth_upright(seed, p["base_w"], p["base_h"])
    img = shear(img, p["skew_milli"])
    img = np.rot90(img, p["rot_deg"] // 90)
    p["height"], p["width"] = img.shape
    return _gray_bmp(img), p


def _render(docs: DataFrame, limit: int, schema: StructType,
            page_row: Callable[[str, int], tuple]) -> DataFrame:
    """The renderers' one driver: the first ``limit`` documents by
    doc_id, one ``schema`` row each from ``page_row(doc_id, seed)``.

    Deterministic: the seed is a stable function of the doc_id bytes,
    so re-rendering after a resume produces identical payloads.

    ``limit`` collapses the plan to ONE partition (GlobalLimit), which
    would serialize the expensive render/preprocess UDFs — the
    ``barrier`` spreads the (tiny, keys-only) limited frame back out
    so the raster work runs at full parallelism."""
    slim = barrier(docs.select("doc_id").orderBy("doc_id").limit(limit), "doc_id")
    columns = schema.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].tolist():
                seed = int.from_bytes(
                    hashlib.md5(str(doc_id).encode()).digest()[:6], "big")
                rows.append(page_row(str(doc_id), seed))
            yield pd.DataFrame(rows, columns=columns)

    return slim.mapInPandas(gen, schema=schema)


def _page_row(doc_id: str, seed: int) -> tuple:
    payload, p = render_page(seed)
    return (doc_id, 0, payload, p["width"], p["height"], PAGE_DPI,
            p["rot_deg"], p["skew_milli"], p["conf_micros"],
            p["base_w"], p["base_h"])


def render_pages(docs: DataFrame, limit: int = RENDER_LIMIT) -> DataFrame:
    """S2 analogue (renderer.py:37-73): documents → one rendered page
    row each (page bitmaps as a binary column + geometry metadata)."""
    return _render(docs, limit, PAGES_SCHEMA, _page_row)


# ── R1: orientation (renderer.py:78-100) ────────────────────────────

def detect_orientation(gray: np.ndarray) -> Tuple[int, float]:
    """Projection-profile orientation: the 0°/180° axis has maximal
    row-sum variance (horizontal text bands align), the flip within
    the axis is chosen by ink-mass asymmetry (header-heavy top half).
    Returns (rotation_deg, confidence) where rotation_deg is the
    rot90-count·90 that ``fix_orientation`` must undo — the OSD
    'rotate'/'orientation_conf' analogue (renderer.py:87-89)."""
    ink = (255.0 - gray.astype(np.float64))
    v = []
    for k in (0, 1):
        cand = np.rot90(ink, -k)
        v.append(cand.sum(axis=1).var())
    axis = 0 if v[0] >= v[1] else 1
    axis_conf = 1.0 - (min(v) / max(v) if max(v) > 0 else 1.0)
    cand = np.rot90(ink, -axis)
    h = cand.shape[0]
    top, bot = cand[:h // 2].sum(), cand[h - h // 2:].sum()
    flip_conf = abs(top - bot) / (top + bot) if (top + bot) > 0 else 0.0
    k = axis if top >= bot else axis + 2
    return 90 * k, min(axis_conf, 2.0 * flip_conf)


def fix_orientation(img: np.ndarray, rot_deg: int) -> np.ndarray:
    """Undo a detected rotation (page was rot90'd CCW by rot_deg)."""
    return np.rot90(img, -(rot_deg // 90))


# ── R2: skew (renderer.py:105-161) ──────────────────────────────────

def detect_skew_milli(gray: np.ndarray) -> int:
    """Projection-profile shear search: the candidate angle whose
    inverse shear maximises row-sum variance of the ink is the page's
    skew.  Replaces the Hough-median estimate with the same output
    contract (degrees, sign per the reference's line-angle
    convention); grid is ±15° at 0.25°."""
    ink = (255.0 - gray.astype(np.float64))
    h, w = ink.shape
    prof = ink.T                                   # (w, h) column profiles
    # blank columns contribute nothing to any accumulation — drop them
    keep = prof.any(axis=1)
    prof = prof[keep]
    xs = (np.arange(w) - w // 2)[keep]
    m = int(math.tan(math.radians(SKEW_MAX_MILLI / 1000.0)) * (w // 2)) + 2
    best_var, best_milli = -1.0, 0
    # candidate order = increasing |angle|, positive first: exact ties
    # (shears that are pixel-identical on this page width) resolve to
    # the smallest-magnitude angle, deterministically
    order = sorted(range(-SKEW_MAX_MILLI, SKEW_MAX_MILLI + 1, SKEW_STEP_MILLI),
                   key=lambda mi: (abs(mi), mi < 0))
    size = h + 2 * m
    # inverse shear as per-run range additions instead of a per-pixel
    # scatter-add: d(x) = rint(tan*x) is monotone in x, so columns
    # sharing a shift form contiguous runs, and each run's summed
    # profile is a difference of two prefix-sum rows.  All entries are
    # integer-valued float64 (ink counts) far below 2**53, so cumsum /
    # subtraction / accumulation are exact and the resulting acc — and
    # therefore every variance and the argmax — is bit-identical to
    # the former bincount scatter-add, at ~1/4 the element traffic.
    prefix = np.empty((len(xs) + 1, h))
    prefix[0] = 0.0
    np.cumsum(prof, axis=0, out=prefix[1:])
    for milli in order:
        t = math.tan(math.radians(milli / 1000.0))
        d = np.rint(t * xs).astype(np.int64)
        acc = np.zeros(size)
        if len(d):
            bounds = np.flatnonzero(np.diff(d)) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(d)]))
            for s, e in zip(starts, ends):
                off = m - d[s]
                acc[off:off + h] += prefix[e]
                acc[off:off + h] -= prefix[s]
        var = acc[m:m + h].var()
        if var > best_var:
            best_var, best_milli = var, milli
    return best_milli


def fix_skew(img: np.ndarray, milli: int) -> np.ndarray:
    return unshear(img, milli)


def _deskew(gray: np.ndarray) -> Tuple[np.ndarray, int, bool]:
    """(page, detected skew, applied): the skew is corrected only when
    0.5 < |angle| < 15 (renderer.py:141)."""
    milli = detect_skew_milli(gray)
    applied = 500 < abs(milli) < 15000
    return (fix_skew(gray, milli) if applied else gray), milli, applied


# ── R3 kernels (renderer.py:166-216, cv2 primitives in numpy) ──────

def clahe(gray: np.ndarray, clip_limit: float) -> np.ndarray:
    """Contrast-limited adaptive histogram equalisation over
    CLAHE_TILES x CLAHE_TILES tiles with bilinear interpolation between
    the tile mappings (the standard CLAHE algorithm; cv2.createCLAHE
    analogue)."""
    tiles = CLAHE_TILES
    h, w = gray.shape
    ty = np.linspace(0, h, tiles + 1).astype(int)
    tx = np.linspace(0, w, tiles + 1).astype(int)
    luts = np.zeros((tiles, tiles, 256))
    for i in range(tiles):
        for j in range(tiles):
            tile = gray[ty[i]:ty[i + 1], tx[j]:tx[j + 1]]
            hist = np.bincount(tile.reshape(-1), minlength=256).astype(np.float64)
            clip = max(1.0, clip_limit * tile.size / 256.0)
            excess = np.maximum(hist - clip, 0).sum()
            hist = np.minimum(hist, clip) + excess / 256.0
            cdf = hist.cumsum()
            cdf = cdf / cdf[-1] if cdf[-1] > 0 else cdf
            luts[i, j] = np.clip(np.rint(cdf * 255.0), 0, 255)
    cy = (ty[:-1] + ty[1:]) / 2.0
    cx = (tx[:-1] + tx[1:]) / 2.0
    yy = np.arange(h)[:, None]
    xx = np.arange(w)[None, :]
    iy = np.clip(np.searchsorted(cy, yy.ravel()) - 1, 0, tiles - 2)
    ix = np.clip(np.searchsorted(cx, xx.ravel()) - 1, 0, tiles - 2)
    iy = iy.reshape(h, 1)
    ix = ix.reshape(1, w)
    fy = np.clip((yy - cy[iy]) / (cy[iy + 1] - cy[iy]), 0, 1)
    fx = np.clip((xx - cx[ix]) / (cx[ix + 1] - cx[ix]), 0, 1)
    g = gray.astype(int)
    iyb = np.broadcast_to(iy, (h, w))
    ixb = np.broadcast_to(ix, (h, w))
    v00 = luts[iyb, ixb, g]
    v01 = luts[iyb, ixb + 1, g]
    v10 = luts[iyb + 1, ixb, g]
    v11 = luts[iyb + 1, ixb + 1, g]
    out = (v00 * (1 - fy) * (1 - fx) + v01 * (1 - fy) * fx
           + v10 * fy * (1 - fx) + v11 * fy * fx)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def _gauss_kernel(ksize: int, sigma: float) -> np.ndarray:
    xs = np.arange(ksize) - (ksize - 1) / 2.0
    k = np.exp(-(xs ** 2) / (2 * sigma ** 2))
    return k / k.sum()


def _sep_conv_replicate(img: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Separable 2-D convolution with replicate borders via two banded
    matrix products (pages are small; BLAS beats python loops)."""
    r = len(k) // 2
    h, w = img.shape

    def band(n: int) -> np.ndarray:
        m = np.zeros((n, n))
        for o, kv in zip(range(-r, r + 1), k):
            idx = np.clip(np.arange(n) + o, 0, n - 1)
            m[np.arange(n), idx] += kv
        return m

    return band(h) @ img.astype(np.float64) @ band(w).T


def adaptive_threshold_gaussian(gray: np.ndarray, block: int = 11,
                                c: float = 2.0) -> np.ndarray:
    """cv2.adaptiveThreshold(ADAPTIVE_THRESH_GAUSSIAN_C, THRESH_BINARY,
    block, C) analogue: 255 where pixel > gaussian-local-mean − C."""
    sigma = 0.3 * ((block - 1) * 0.5 - 1) + 0.8     # cv2 default sigma
    mean = _sep_conv_replicate(gray, _gauss_kernel(block, sigma))
    return np.where(gray.astype(np.float64) > mean - c, 255, 0).astype(np.uint8)


def bilateral(gray: np.ndarray, d: int = 9, sigma_color: float = 75.0,
              sigma_space: float = 75.0) -> np.ndarray:
    """Bilateral filter via shift-stacking (window d×d, gaussian
    spatial × gaussian range weights)."""
    r = d // 2
    img = gray.astype(np.float64)
    pad = np.pad(img, r, mode="edge")
    h, w = img.shape
    num = np.zeros((h, w))
    den = np.zeros((h, w))
    # range-weight LUT: pixel differences are integer-valued (uint8
    # source), so exp's input domain is exactly the 256 values
    # -(k*k)/(2*sigma_color^2), k = 0..255 — evaluating np.exp over
    # that domain once and indexing replaces an exp per pixel per
    # window offset with a table take.  Bit-identical by exhaustive
    # domain check (tests/test_raster.py pins all 256 values and the
    # lut*sw fold against the per-pixel expression).
    ks = np.arange(256, dtype=np.float64)
    lut = np.exp(-(ks ** 2) / (2 * sigma_color ** 2))
    # integer |diff| index in int16 arithmetic (exact: uint8 domain)
    img_i = gray.astype(np.int16)
    pad_i = np.pad(img_i, r, mode="edge")
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            sw = math.exp(-(dx * dx + dy * dy) / (2 * sigma_space ** 2))
            nb = pad[r + dy:r + dy + h, r + dx:r + dx + w]
            idx = np.abs(pad_i[r + dy:r + dy + h, r + dx:r + dx + w] - img_i)
            rw = (lut * sw)[idx]
            num += rw * nb
            den += rw
    return np.clip(np.rint(num / den), 0, 255).astype(np.uint8)


def sharpen(gray: np.ndarray) -> np.ndarray:
    """3×3 kernel [[-1,-1,-1],[-1,9,-1],[-1,-1,-1]] (renderer.py:196),
    replicate border, saturating uint8 like cv2.filter2D."""
    img = gray.astype(np.float64)
    pad = np.pad(img, 1, mode="edge")
    h, w = img.shape
    out = 9.0 * img
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dy == 0 and dx == 0:
                continue
            out -= pad[1 + dy:1 + dy + h, 1 + dx:1 + dx + w]
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def morph_open(gray: np.ndarray, k: int = 2) -> np.ndarray:
    """Grayscale opening (erosion then dilation) with a k×k kernel
    (renderer.py:206-207)."""
    def erode(img):
        pad = np.pad(img, ((0, k - 1), (0, k - 1)), mode="edge")
        out = img.copy()
        for dy in range(k):
            for dx in range(k):
                out = np.minimum(out, pad[dy:dy + img.shape[0],
                                          dx:dx + img.shape[1]])
        return out

    def dilate(img):
        pad = np.pad(img, ((k - 1, 0), (k - 1, 0)), mode="edge")
        out = img.copy()
        for dy in range(k):
            for dx in range(k):
                out = np.maximum(out, pad[dy:dy + img.shape[0],
                                          dx:dx + img.shape[1]])
        return out

    return dilate(erode(gray))


def otsu_threshold(gray: np.ndarray) -> np.ndarray:
    """Otsu global binarisation (renderer.py:208)."""
    hist = np.bincount(gray.reshape(-1), minlength=256).astype(np.float64)
    total = hist.sum()
    levels = np.arange(256)
    w0 = hist.cumsum()
    m0 = (hist * levels).cumsum()
    mean_total = m0[-1] / total
    w1 = total - w0
    with np.errstate(divide="ignore", invalid="ignore"):
        mu0 = m0 / w0
        mu1 = (m0[-1] - m0) / w1
        between = w0 * w1 * (mu0 - mu1) ** 2
    between[np.isnan(between)] = 0
    t = int(np.argmax(between))
    return np.where(gray > t, 255, 0).astype(np.uint8)


def apply_enhancement(gray: np.ndarray,
                      mean_confidence: float) -> Tuple[np.ndarray, str]:
    """Confidence-keyed enhancement ladder (renderer.py:166-216):
    thresholds and profile structure exactly as the reference."""
    if mean_confidence >= 0.85:
        return clahe(gray, 2.0), "A_mild_contrast"
    if mean_confidence >= 0.70:
        return adaptive_threshold_gaussian(gray, 11, 2), "B_adaptive_threshold"
    if mean_confidence >= 0.50:
        den = bilateral(gray, 9, 75, 75)
        return (adaptive_threshold_gaussian(sharpen(den), 11, 2),
                "C_denoise_sharpen")
    contrast = clahe(gray, 4.0)
    return otsu_threshold(morph_open(contrast, 2)), "D_high_contrast"


def preprocess_page_array(gray: np.ndarray, mean_confidence: float) -> dict:
    """R4 (renderer.py:221-242): orientation → skew → enhancement,
    with enhancement skipped at mean_confidence >= 0.85 (profile
    'none', renderer.py:239-240)."""
    rot_deg, conf = detect_orientation(gray)
    rotation_applied = bool(rot_deg != 0 and conf > 0.5)    # renderer.py:90
    if rotation_applied:
        gray = fix_orientation(gray, rot_deg)
    gray, milli, skew_applied = _deskew(gray)
    if mean_confidence < 0.85:
        gray, profile = apply_enhancement(gray, mean_confidence)
    else:
        profile = "none"
    ink = int((255 - gray.astype(np.int64)).sum())
    return {
        "height": gray.shape[0], "width": gray.shape[1],
        "orientation_detected": rot_deg,
        "orientation_conf_milli": int(round(conf * 1000)),
        "rotation_applied": rotation_applied,
        "skew_milli": milli,
        "skew_applied": skew_applied,
        "profile": profile,
        "out_sha256": hashlib.sha256(gray.tobytes()).hexdigest(),
        "ink_ratio_micros": ink * 1000000 // (255 * gray.size),
    }


# ── raster table extraction (S7 raster tiers: tabula/camelot
#    analogues — orchestrator.py:982-1173 tabula, :1174-1341 camelot).
#    Two real table-detection modes over PIXELS:
#      lattice — ruling-line detection (camelot lattice / tabula with
#        detected rules): full-span ink runs on the row/column ink
#        profiles are grid lines; cells are the gaps between them.
#      stream — whitespace-gap detection (tabula stream mode): column
#        bands are maximal ink runs separated by blank gutters on the
#        column profile, rows likewise on the row profile.
#    The north-star names exactly these two heuristics ("table
#    detection (ruling-line + whitespace-gap heuristics)"). ──────────

TBL_COLS = (2, 3, 4, 5)
TBL_ROWS = (3, 4, 5, 6, 7, 8)
TBL_MARGIN_DIV = 8                     # table bbox inset = dim // 8
TM_A, TN_A, TK_A = 48271, 16807, 65537   # table-parameter mixers

TABLE_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("mode", StringType(), True),        # lattice | stream
    StructField("n_rows", IntegerType(), True),
    StructField("n_cols", IntegerType(), True),
    StructField("bbox_x0", IntegerType(), True),
    StructField("bbox_y0", IntegerType(), True),
    StructField("bbox_x1", IntegerType(), True),
    StructField("bbox_y1", IntegerType(), True),
    StructField("n_cells_filled", IntegerType(), True),
])

# rendered table pages: payload + the draw plan's ground truth (oracle only)
_TABLE_TRUTH_FIELDS = [
    StructField("gt_mode", StringType(), False),
    StructField("gt_rows", IntegerType(), False),
    StructField("gt_cols", IntegerType(), False),
    StructField("gt_filled", IntegerType(), False),
    StructField("gt_x0", IntegerType(), False),
    StructField("gt_y0", IntegerType(), False),
    StructField("gt_x1", IntegerType(), False),
    StructField("gt_y1", IntegerType(), False),
]
TABLE_PAGES_SCHEMA = StructType(
    [StructField("doc_id", StringType(), False),
     StructField("payload", BinaryType(), False)] + _TABLE_TRUTH_FIELDS)
SKEWED_TABLE_PAGES_SCHEMA = StructType(
    TABLE_PAGES_SCHEMA.fields[:2]
    + [StructField("gt_skew_milli", LongType(), False),
       StructField("gt_skew_applied", BooleanType(), False)]
    + _TABLE_TRUTH_FIELDS)
DESKEW_TABLE_SCHEMA = StructType(
    [StructField("doc_id", StringType(), False),
     StructField("skew_milli", LongType(), True),
     StructField("skew_applied", BooleanType(), True)]
    + TABLE_SCHEMA.fields[1:])


def table_params(seed: int) -> dict:
    """Deterministic table-synthesis parameters from an integer seed."""
    return {
        "mode": ("lattice", "stream")[(seed * TK_A) % 2],
        "n_rows": TBL_ROWS[(seed * TM_A) % len(TBL_ROWS)],
        "n_cols": TBL_COLS[(seed * TN_A) % len(TBL_COLS)],
        "base_w": BASE_W[(seed * RW_A) % 3],
        "base_h": BASE_H[(seed * RH_A) % 3],
    }


def synth_table_page(seed: int) -> Tuple[np.ndarray, dict]:
    """Draw a table page with known ground truth.

    lattice: 1-px black ruling lines on every row/column boundary
    (full table span); stream: no rules — cell blobs only, with blank
    gutters (>=3 px) between column bands and row bands.  Cell blobs
    are inset 3 px from their cell bounds so content never produces a
    full-span run (which would fake a ruling line)."""
    p = table_params(seed)
    w, h = p["base_w"], p["base_h"]
    page = np.full((h, w), 255, dtype=np.uint8)
    x0, x1 = w // TBL_MARGIN_DIV, w - w // TBL_MARGIN_DIV
    y0, y1 = h // TBL_MARGIN_DIV, h - h // TBL_MARGIN_DIV
    nr, nc = p["n_rows"], p["n_cols"]
    xs = np.linspace(x0, x1, nc + 1).astype(int)
    ys = np.linspace(y0, y1, nr + 1).astype(int)
    s = seed * 2862933555777941757 + 3037000493
    filled = 0
    if p["mode"] == "lattice":
        for x in xs:
            page[y0:y1 + 1, x] = 0
        for y in ys:
            page[y, x0:x1 + 1] = 0
        # small seeded blobs, 3-px inset from the rules; ~1/4 of the
        # cells stay empty so filled-cell counting is non-trivial
        for r in range(nr):
            for c in range(nc):
                s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
                if (s >> 33) % 4 == 0:
                    continue
                cx0, cx1 = xs[c] + 3, xs[c + 1] - 3
                cy0, cy1 = ys[r] + 3, ys[r + 1] - 3
                bw = 2 + (s >> 40) % max(1, min(4, cx1 - cx0 - 1))
                page[cy0:cy0 + min(2, cy1 - cy0), cx0:cx0 + bw] = 30
                filled += 1
    else:
        # stream: solid cell blocks with asymmetric insets chosen so
        # no row/column ink run reaches the 0.95-span lattice test
        # (x-inset 8 caps the worst row fill at <0.95 for n_cols=2 on the
        # widest page; y-inset 3 likewise for n_rows=3; true rules
        # span exactly 1.0) while the >=6-px gutters
        # stay wide enough for the whitespace-gap split
        for r in range(nr):
            for c in range(nc):
                s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
                shade = 20 + (s >> 17) % 90
                page[ys[r] + 3:ys[r + 1] - 3,
                     xs[c] + 8:xs[c + 1] - 8] = shade
                filled += 1
    p["n_cells_filled"] = filled
    # ground truth bbox = extent of the ink actually drawn (a property
    # of the draw plan, NOT of any detector)
    ink = page < 128
    iy = np.flatnonzero(ink.any(axis=1))
    ix = np.flatnonzero(ink.any(axis=0))
    p["bbox"] = (int(ix[0]), int(iy[0]), int(ix[-1]), int(iy[-1]))
    return page, p


def _runs(mask: np.ndarray, min_gap: int = 1) -> list:
    """Maximal True runs [(start, end_inclusive)], merging runs
    separated by gaps shorter than min_gap."""
    idx = np.flatnonzero(mask)
    if idx.size == 0:
        return []
    splits = np.flatnonzero(np.diff(idx) > min_gap)
    starts = np.concatenate(([0], splits + 1))
    ends = np.concatenate((splits, [idx.size - 1]))
    return [(int(idx[s]), int(idx[e])) for s, e in zip(starts, ends)]


def detect_table(gray: np.ndarray) -> dict:
    """Detect one table on a page from pixels alone.

    Tries ruling-line (lattice) detection first — a grid line is a
    row/column whose ink run spans >=95% of the detected table width /
    height; needs >=2 lines on each axis.  Falls back to whitespace-gap
    (stream) detection: column/row bands are ink runs separated by
    blank gutters (>=3 px merge tolerance).  Mirrors the reference's
    tier order (try the ruled engine, fall back to the stream engine —
    orchestrator fallback cascade)."""
    ink = gray < 128
    if not ink.any():
        return {"mode": None, "n_rows": None, "n_cols": None,
                "bbox": (None, None, None, None), "n_cells_filled": None}
    row_any = ink.any(axis=1)
    col_any = ink.any(axis=0)
    ys = np.flatnonzero(row_any)
    xs = np.flatnonzero(col_any)
    y0, y1 = int(ys[0]), int(ys[-1])
    x0, x1 = int(xs[0]), int(xs[-1])
    width, height = x1 - x0 + 1, y1 - y0 + 1
    # lattice probe: full-span runs
    row_span = ink[:, x0:x1 + 1].sum(axis=1)
    col_span = ink[y0:y1 + 1, :].sum(axis=0)
    h_groups = _runs(row_span >= 0.95 * width)
    v_groups = _runs(col_span >= 0.95 * height)
    if len(h_groups) >= 2 and len(v_groups) >= 2:
        nr, nc = len(h_groups) - 1, len(v_groups) - 1
        # count filled cells: ink strictly inside cell interiors
        filled = 0
        hy = [g[0] for g in h_groups]
        vx = [g[0] for g in v_groups]
        for r in range(nr):
            for c in range(nc):
                cell = ink[hy[r] + 1:hy[r + 1], vx[c] + 1:vx[c + 1]]
                # exclude the rules themselves via a 1-px inset
                if cell[1:-1, 1:-1].any():
                    filled += 1
        return {"mode": "lattice", "n_rows": nr, "n_cols": nc,
                "bbox": (x0, y0, x1, y1), "n_cells_filled": filled}
    # stream: whitespace-gap bands (merge gaps < 3 px)
    rbands = _runs(row_any, min_gap=3)
    cbands = _runs(col_any, min_gap=3)
    nr, nc = len(rbands), len(cbands)
    filled = 0
    for (ry0, ry1) in rbands:
        for (cx0, cx1) in cbands:
            if ink[ry0:ry1 + 1, cx0:cx1 + 1].any():
                filled += 1
    return {"mode": "stream", "n_rows": nr, "n_cols": nc,
            "bbox": (x0, y0, x1, y1), "n_cells_filled": filled}


def canonical_skew_milli(img_upright: np.ndarray, milli: int) -> int:
    """The angle ``detect_skew_milli`` will report for this image
    synthesised at ``milli``: the first candidate in the detector's
    tie order (smallest |angle|, positive first) whose column shifts
    agree with the true angle's on every ink-bearing column — such
    candidates shear this image pixel-identically, so the detector
    cannot distinguish them and its deterministic order decides.
    Computed from the draw plan + shift arithmetic, never by running
    the detector."""
    w = img_upright.shape[1]
    ink_cols = np.flatnonzero((img_upright < 255).any(axis=0))
    d_true = _col_shifts(w, milli)[ink_cols]
    for m in sorted(range(-SKEW_MAX_MILLI, SKEW_MAX_MILLI + 1,
                          SKEW_STEP_MILLI), key=lambda mi: (abs(mi), mi < 0)):
        if np.array_equal(_col_shifts(w, m)[ink_cols], d_true):
            return m
    return milli


SKEWED_TBL_MAX_MILLI = 5000      # ±5°: max shift tan(5°)·w/2 = 12.6 px
                                 # < the table's h//8 >= 20 px margin


def _table_truth(p: dict) -> tuple:
    """synth_table_page's ground truth in _TABLE_TRUTH_FIELDS order."""
    return (p["mode"], p["n_rows"], p["n_cols"], p["n_cells_filled"], *p["bbox"])


def _table_page_row(doc_id: str, seed: int) -> tuple:
    img, p = synth_table_page(seed)
    return (doc_id, _gray_bmp(img)) + _table_truth(p)


def _skewed_table_page_row(doc_id: str, seed: int) -> tuple:
    img, p = synth_table_page(seed)
    steps = SKEWED_TBL_MAX_MILLI // SKEW_STEP_MILLI
    milli = ((seed * RS_A) % (2 * steps + 1) - steps) * SKEW_STEP_MILLI
    if milli != 0:
        milli = canonical_skew_milli(img, milli)
    if abs(milli) <= 500:
        milli = 0
    sheared = shear(img, milli) if milli else img
    return (doc_id, _gray_bmp(sheared), milli, milli != 0) + _table_truth(p)


def render_skewed_table_pages(docs: DataFrame) -> DataFrame:
    """Composed-pipeline input (R2 ∘ S7): table pages sheared by a
    seeded skew in ±5° (0.25° grid).  Ground truth is canonicalised
    against the page's ink support (`canonical_skew_milli`); skews at
    or under the reference's 0.5° correction gate (renderer.py:141)
    are synthesised as 0 — an uncorrected sub-gate shear would break
    the ruling-line spans, which mirrors the reference leaving such
    pages untouched."""
    return _render(docs, RENDER_LIMIT, SKEWED_TABLE_PAGES_SCHEMA,
                   _skewed_table_page_row)


def render_table_pages(docs: DataFrame) -> DataFrame:
    """Documents → one synthetic table page each (binary BMP payload +
    ground-truth geometry for the oracle), full parallelism."""
    return _render(docs, RENDER_LIMIT, TABLE_PAGES_SCHEMA, _table_page_row)


def _per_page(pages: DataFrame, schema: StructType,
              page_fields: Callable[..., tuple], *inputs: str) -> DataFrame:
    """The per-page stages' one driver: a shuffle-free mapInPandas that
    reads only (doc_id, payload, *inputs), decodes each BMP payload and
    emits doc_id followed by ``page_fields(gray, *input values)``; a
    null or undecodable payload gives nulls.  Pages are gray by
    construction (r == g == b), so the red channel is the page."""
    slim = pages.select("doc_id", "payload", *inputs)
    columns = schema.fieldNames()
    nulls = (None,) * (len(columns) - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, *values in zip(
                    pdf["doc_id"], pdf["payload"], *(pdf[c] for c in inputs)):
                px = decode_bmp(bytes(payload)) if payload is not None else None
                rows.append((doc_id,) + (nulls if px is None
                                         else page_fields(px[:, :, 0], *values)))
            yield pd.DataFrame(rows, columns=columns)

    return slim.mapInPandas(run, schema=schema)


def _table_fields(gray: np.ndarray) -> tuple:
    """detect_table's result in TABLE_SCHEMA order."""
    m = detect_table(gray)
    return (m["mode"], m["n_rows"], m["n_cols"], *m["bbox"], m["n_cells_filled"])


def _deskewed_table_fields(gray: np.ndarray) -> tuple:
    gray, milli, applied = _deskew(gray)
    return (milli, applied) + _table_fields(gray)


def _preprocess_fields(gray: np.ndarray, conf_micros) -> tuple:
    m = preprocess_page_array(gray, int(conf_micros) / 1e6)
    return tuple(m[name] for name in PREPROC_SCHEMA.fieldNames()[1:])


def deskew_and_extract(pages: DataFrame) -> DataFrame:
    """R2 ∘ S7 as ONE shuffle-free mapInPandas stage: detect the
    shear, correct it under the reference gate, then run the table
    tiers on the corrected pixels.  Reads only (doc_id, payload)."""
    return _per_page(pages, DESKEW_TABLE_SCHEMA, _deskewed_table_fields)


def extract_tables(pages: DataFrame) -> DataFrame:
    """S7 raster tiers as one shuffle-free mapInPandas stage: BMP in,
    detected table geometry out.  Reads ONLY (doc_id, payload) —
    never the ground-truth columns."""
    return _per_page(pages, TABLE_SCHEMA, _table_fields)


def preprocess_pages(pages: DataFrame) -> DataFrame:
    """R1-R4 as one shuffle-free mapInPandas stage: BMP payload in,
    per-page preprocessing metrics out.  Reads ONLY (doc_id, payload,
    conf_micros) — detection works on pixels, never on the snapshot's
    ground-truth parameter columns."""
    return _per_page(pages, PREPROC_SCHEMA, _preprocess_fields, "conf_micros")
