"""Image pixel operations — port of the reference's ImageHandler
pixel stack (extraction/multimedia/ImageHandler.java) over the repo's
pure-numpy BMP codec:

- toGrayScale (:787-799): gray = (int)(0.3r + 0.59g + 0.11b)
  (truncation), written to all three channels.
- getAverageGray (:632-651): mean of the truncated grays.
- getAverageRed/Green/Blue(ignoreWhite) (:654-711): channel sum
  (skipping pure-white pixels when asked) scaled by the gray weight —
  but divided by the FULL pixel count including the skipped whites
  (the reference never shrinks the denominator); kept bug-for-bug.
- substractImages (:593-630): width mismatch returns image1 (warn);
  rows beyond min(height) stay black; per-pixel gray of the
  channel-weighted absolute difference.
- getSimilarity MSE / MINKOWSKI / DIFFG (:713-785): MSE divides the
  red delta by 255 in INTEGER arithmetic (so only full-scale ±255
  deltas contribute — kept bug-for-bug); MINKOWSKI uses the float
  division and 1 - sqrt(mean); DIFFG = 1 - averageGray(subtracted)
  / 255.  Size mismatch rescales both to width 200 first.
- isDuplicate (:801-821): null inputs are duplicates (quirk kept);
  DIFFG similarity > 0.82.
- boxFit / boxCrop / rescaleImage (:310-365, :391-417): the exact
  scale/offset arithmetic (independent-axis scaling when not toFit,
  (int) truncated crop offsets, Math.max target dims).  The JAI
  SubsampleAverage/bicubic RESAMPLING KERNEL is not bit-replicable
  without JAI — substituted by deterministic nearest-neighbor
  (src = dst * srcDim // dstDim) with round(dim * scale) output
  dims; geometry is reference-exact, kernel is documented.

Spark shape: pair selection is one equi-join on a computed key;
decode + similarity is ONE mapInPandas pass over the joined pair
rows (column-pruned to the two content blobs) — no Python in any
plan before the pairing join.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp.multimodal import decode_bmp

# ------------------------------------------------------------ pure twins


def to_gray_scale(img: np.ndarray) -> np.ndarray:
    """toGrayScale: truncated weighted gray into all channels."""
    px = img.astype(np.float64)
    gray = (0.3 * px[:, :, 0] + 0.59 * px[:, :, 1]
            + 0.11 * px[:, :, 2]).astype(np.int64)
    return np.repeat(gray[:, :, None], 3, axis=2).astype(np.uint8)


def get_average_gray(img: np.ndarray) -> float:
    """getAverageGray: mean of truncated grays (float division)."""
    px = img.astype(np.float64)
    gray = (0.3 * px[:, :, 0] + 0.59 * px[:, :, 1]
            + 0.11 * px[:, :, 2]).astype(np.int64)
    return float(gray.sum()) / (img.shape[0] * img.shape[1])


def _average_channel(img: np.ndarray, channel: int, weight: float,
                     ignore_white: bool) -> float:
    """getAverageRed/Green/Blue: channel sum over non-white pixels
    when ignore_white, divided by the FULL pixel count (quirk)."""
    px = img.astype(np.int64)
    if ignore_white:
        keep = ~np.all(px == 255, axis=2)
        total = int(px[:, :, channel][keep].sum())
    else:
        total = int(px[:, :, channel].sum())
    return weight * total / (img.shape[0] * img.shape[1])


def get_average_red(img, ignore_white=False) -> float:
    return _average_channel(img, 0, 0.3, ignore_white)


def get_average_green(img, ignore_white=False) -> float:
    return _average_channel(img, 1, 0.59, ignore_white)


def get_average_blue(img, ignore_white=False) -> float:
    return _average_channel(img, 2, 0.11, ignore_white)


def subtract_images(img1: np.ndarray, img2: np.ndarray) -> np.ndarray:
    """substractImages: width mismatch returns img1; rows beyond the
    shorter image stay black."""
    if img1.shape[1] != img2.shape[1]:
        return img1
    out = np.zeros_like(img1)
    h = min(img1.shape[0], img2.shape[0])
    d = np.abs(img1[:h].astype(np.int64) - img2[:h].astype(np.int64))
    gray = (0.3 * d[:, :, 0] + 0.59 * d[:, :, 1]
            + 0.11 * d[:, :, 2]).astype(np.int64)
    out[:h] = np.repeat(gray[:, :, None], 3, axis=2).astype(np.uint8)
    return out


def rescale_image(img: np.ndarray, box_w: int, box_h: int,
                  to_fit: bool = True) -> np.ndarray:
    """rescaleImage geometry (:391-417): per-axis scale, min-scale
    both axes when toFit; nearest-neighbor kernel (documented
    substitute), output dims round(dim * scale)."""
    ih, iw = img.shape[:2]
    scale_x = box_w / iw
    scale_y = box_h / ih
    if to_fit:
        scale_x = scale_y = min(scale_x, scale_y)
    nw = max(1, int(round(iw * scale_x)))
    nh = max(1, int(round(ih * scale_y)))
    rows = (np.arange(nh) * ih) // nh
    cols = (np.arange(nw) * iw) // nw
    return img[rows][:, cols]


def _rescale_width(img: np.ndarray, new_width: int) -> np.ndarray:
    """rescaleImage(image, newWidth) (:519-530): uniform scale to the
    given width."""
    ih, iw = img.shape[:2]
    scale = new_width / iw
    return rescale_image(img, new_width, max(1, int(round(ih * scale))),
                         to_fit=True)


def box_fit(img: np.ndarray, box_w: int, box_h: int) -> np.ndarray:
    return rescale_image(img, box_w, box_h, to_fit=True)


def box_crop(img: np.ndarray, box_w: int, box_h: int) -> np.ndarray:
    """boxCrop (:338-365): scale to fill, center, crop with (int)
    truncated offsets."""
    ih, iw = img.shape[:2]
    scale = max(box_w / iw, box_h / ih)
    target_w = max(int(iw * scale), box_w)
    target_h = max(int(ih * scale), box_h)
    img = rescale_image(img, target_w, target_h, to_fit=False)
    ih, iw = img.shape[:2]
    y_off = (ih - box_h) / 2.0
    x_off = (iw - box_w) / 2.0
    if y_off <= 0 and x_off <= 0:
        return img
    x0, y0 = int(x_off), int(y_off)
    return img[y0:y0 + min(box_h, ih), x0:x0 + min(box_w, iw)]


def get_similarity(img1: np.ndarray, img2: np.ndarray,
                   measure: str) -> float:
    """getSimilarity (:713-724) — 'mse', 'minkowski', 'diffg'."""
    if measure == "mse":
        return _mean_square_error(img1, img2)
    if measure == "minkowski":
        return _minkowski_similarity(img1, img2)
    if measure == "diffg":
        return _gray_difference(img1, img2)
    return 0.0


def _norm_pair(img1, img2):
    if img1.shape[1] != img2.shape[1]:
        img1 = _rescale_width(img1, 200)
        img2 = _rescale_width(img2, 200)
    return img1, img2


def _mean_square_error(img1, img2) -> float:
    """getMeanSquareError (:726-745) with the INTEGER /255 quirk: only
    full-scale gray deltas contribute."""
    img1, img2 = _norm_pair(img1, img2)
    g1 = to_gray_scale(img1).astype(np.int64)
    g2 = to_gray_scale(img2).astype(np.int64)
    h = min(g1.shape[0], g2.shape[0])
    d = g1[:h, :, 0] - g2[:h, :, 0]
    contrib = np.trunc(d / 255.0) ** 2  # Java int division
    return float(contrib.sum()) / (g1.shape[1] * g1.shape[0])


def _minkowski_similarity(img1, img2) -> float:
    """getMinkowskiSimilarity (:748-771): float deltas, r=2."""
    img1, img2 = _norm_pair(img1, img2)
    g1 = to_gray_scale(img1).astype(np.float64)
    g2 = to_gray_scale(img2).astype(np.float64)
    h = min(g1.shape[0], g2.shape[0])
    err = (((g1[:h, :, 0] - g2[:h, :, 0]) / 255.0) ** 2).sum()
    mean = err / (g1.shape[1] * g1.shape[0])
    return 1 - math.pow(mean, 0.5)


def _gray_difference(img1, img2) -> float:
    """getGrayDifference (:774-785)."""
    img1, img2 = _norm_pair(img1, img2)
    sub = subtract_images(img1, img2)
    return 1 - get_average_gray(sub) / 255.0


def is_duplicate(img1: np.ndarray | None,
                 img2: np.ndarray | None) -> bool:
    """isDuplicate (:801-821): null inputs ARE duplicates (quirk);
    DIFFG similarity > 0.82."""
    if img1 is None or img2 is None:
        return True
    return get_similarity(img1, img2, "diffg") > 0.82


# ------------------------------------------------------------ Spark side


def image_dup_stage(media: DataFrame, shift: int = 39,
                    id_col: str = "media_id",
                    content_col: str = "content") -> DataFrame:
    """Pairwise duplicate detection across image rows: pair (id,
    id+shift) via one equi-join on the computed key, then ONE
    mapInPandas pass decoding both BMPs and scoring DIFFG — Python
    only inside the Arrow stage, content pruned to the pair blobs."""
    imgs = media.where(F.col("kind") == "image") if \
        "kind" in media.columns else media
    a = imgs.select(F.col(id_col).alias("id_a"),
                    F.col(content_col).alias("content_a"),
                    (F.col(id_col) + shift).alias("_key"))
    b = imgs.select(F.col(id_col).alias("id_b"),
                    F.col(content_col).alias("content_b"))
    pairs = a.join(b, a["_key"] == b["id_b"]).drop("_key")
    schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("diffg", T.DoubleType()),
        T.StructField("is_dup", T.BooleanType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ia, ca, ib, cb in zip(pdf["id_a"], pdf["content_a"],
                                      pdf["id_b"], pdf["content_b"]):
                i1, i2 = decode_bmp(ca), decode_bmp(cb)
                sim = get_similarity(i1, i2, "diffg")
                rows.append((int(ia), int(ib), sim, sim > 0.82))
            yield pd.DataFrame(rows, columns=["id_a", "id_b", "diffg",
                                              "is_dup"])

    return pairs.mapInPandas(run, schema)


# --------------------------------------------------------- gaussian blur
# palladian-experimental extraction/multimedia/GaussianBlur.java:29-103:
# separable gaussian with sigma = width/3 (float32 kernel, normalized
# by its own float32 total), applied over a replicate-extended image
# (edges AND corners filled from the nearest border pixel), horizontal
# then vertical ConvolveOp, cropped back to the original frame. The
# crop exactly excludes ConvolveOp's zero-filled borders, so the net
# semantics are a replicate-padded separable blur. ConvolveOp's native
# per-pass quantization is kept: each pass rounds (int)(x + 0.5f) and
# clamps to [0, 255] before the next runs.


def gaussian_kernel(width: int) -> np.ndarray:
    """createGaussianKernel (:29-46) in float32."""
    if width < 1:
        raise ValueError("width must be greater/equal one")
    f32 = np.float32
    sigma = f32(width) / f32(3)
    norm = f32(1.0 / (math.sqrt(2 * math.pi) * float(sigma)))
    coeff = f32(2) * sigma * sigma
    xs = np.arange(-width, width + 1, dtype=np.float64)
    g = (norm * np.exp((-xs * xs / coeff).astype(np.float64))) \
        .astype(np.float32)
    total = f32(0)
    for v in g:                     # Java's sequential float32 total
        total = f32(total + v)
    return (g / total).astype(np.float32)


def _convolve_axis(ext: np.ndarray, kern: np.ndarray,
                   axis: int) -> np.ndarray:
    """One ConvolveOp pass over the extended uint8 image: float32
    accumulation, (int)(x+0.5) rounding, EDGE_ZERO_FILL borders."""
    width = (len(kern) - 1) // 2
    acc = np.zeros(ext.shape, dtype=np.float32)
    for k, w in enumerate(kern):
        shift = k - width
        sl = np.roll(ext.astype(np.float32), -shift, axis=axis)
        acc += w * sl
    out = np.clip(np.floor(acc + 0.5), 0, 255).astype(np.uint8)
    # zero-fill the border where the kernel does not fit
    sl = [slice(None)] * ext.ndim
    sl[axis] = slice(0, width)
    out[tuple(sl)] = 0
    sl[axis] = slice(ext.shape[axis] - width, ext.shape[axis])
    out[tuple(sl)] = 0
    return out


def gaussian_blur(img: np.ndarray, width: int) -> np.ndarray:
    """GaussianBlur.apply (:48-55)."""
    kern = gaussian_kernel(width)
    h, w = img.shape[:2]
    ext = np.pad(img[:, :, :3], ((width, width), (width, width),
                                 (0, 0)), mode="edge")
    ext = _convolve_axis(ext, kern, axis=1)   # horizontal first
    ext = _convolve_axis(ext, kern, axis=0)   # then vertical
    return ext[width:width + h, width:width + w]


def gaussian_blur_stage(media: DataFrame, width: int = 2) -> DataFrame:
    """Distributed GaussianBlur over the media table's image rows:
    decode BMP -> the two float32 ConvolveOp passes -> one row per
    blurred pixel (media_id, r, c, red, grn, blu).  Column-pruned
    mapInPandas like the other media stages; the per-image work is
    bounded by the image size, never the corpus."""
    schema = ("media_id long, r int, c int, "
              "red int, grn int, blu int")
    cols = ["media_id", "r", "c", "red", "grn", "blu"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                out = gaussian_blur(decode_bmp(bytes(content)), width)
                h, w = out.shape[:2]
                for r in range(h):
                    for c in range(w):
                        rows.append((int(mid), r, c,
                                     int(out[r, c, 0]),
                                     int(out[r, c, 1]),
                                     int(out[r, c, 2])))
            yield pd.DataFrame(rows, columns=cols)

    return (media.where(F.col("kind") == "image")
            .select("media_id", "content")
            .mapInPandas(run, schema))
