"""Numpy image/array kernels for the `ocr`/`media` span kinds.

Re-derivations of the reference's kernel semantics (SURVEY.md §2.8) in pure
numpy — the sandbox has no cv2/onnxruntime, and the container deliberately
treats model inference as a deterministic fake (task directive: "make the
Spark-side plumbing real and tested; stub the decode").

The chain mirrors the reference LocalOCREngine stages:

  bytes → image          (S1 load;   ref ocr_workflow_orchestrator.py:153-178)
  grayscale              (K1;        ref ocr_components/preprocessing_module.py:231-248)
  otsu threshold          (K2 part;   ref preprocessing_module.py:73-78 uses cv2 THRESH_OTSU)
  skew estimate           (K2;        ref preprocessing_module.py:32-102)
  binarize                (K4;        ref preprocessing_module.py:158-202)
  band detection          (K7/K8 fake; ref local_ocr_engine.py:181-268 — DBNet
                           replaced by a deterministic horizontal-band proposer
                           with the SAME filter semantics F2-F5)
  crop + block-mean resize (K9/K10;   ref local_ocr_engine.py:270-342)
  fake logits + CTC decode (K11/T6;   ref local_ocr_engine.py:344-396)
  assembly                 (K12/A1/A2; ref local_ocr_engine.py:443-464)

Every function is pure and deterministic so golden fixtures are stable.
"""

from __future__ import annotations

import numpy as np

# ---- fake-engine spec constants (shared with tests/reference_impl) ----------
IMG_SIDE = 32
CHARSET = list("abcdefghijklmnopqrstuvwxyz ")  # blank index == len(CHARSET)
DET_DB_THRESH = 0.3  # F2 (ref local_ocr_engine.py:41)
DET_DB_BOX_THRESH = 0.6  # F3 (ref :42)
DET_MIN_BOX_SIZE = 3  # F4 (ref :45)
DET_MAX_CANDIDATES = 4  # F5 analogue at fake scale (ref :44 uses 1000)
REC_T = 8  # fake recognition sequence length


def bytes_to_image(payload: bytes) -> np.ndarray:
    """S1: payload bytes → (32,32) uint8 'image'. Raises on short payloads
    (mirrors the reference's corrupt-image ValueError)."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    need = IMG_SIDE * IMG_SIDE
    if arr.size < need:
        raise ValueError(f"media payload too small: {arr.size} < {need}")
    return arr[:need].reshape(IMG_SIDE, IMG_SIDE).copy()


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """K1: BT.601 luma for 3-channel input; squeeze/copy otherwise
    (ref preprocessing_module.py:231-248)."""
    if img.ndim == 3 and img.shape[2] == 3:
        w = np.array([0.299, 0.587, 0.114])
        return (img.astype(np.float64) @ w).round().astype(np.uint8)
    if img.ndim == 3 and img.shape[2] == 1:
        return img[:, :, 0].copy()
    if img.ndim == 2:
        return img.copy()
    raise ValueError(f"unsupported image ndim {img.ndim}")


def otsu_threshold(gray: np.ndarray) -> int:
    """Otsu's method over a 256-bin histogram (numpy re-derivation of
    cv2.THRESH_OTSU used at ref preprocessing_module.py:73-78)."""
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = gray.size
    omega = np.cumsum(hist) / total
    mu = np.cumsum(hist * np.arange(256)) / total
    mu_t = mu[-1]
    denom = omega * (1.0 - omega)
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = np.where(denom > 0, (mu_t * omega - mu) ** 2 / denom, 0.0)
    return int(np.argmax(sigma_b))


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone-chain convex hull over (N,2) points, CCW order.
    Scalar cross products (tuples, no per-point ndarray temporaries): ~40×
    faster than the np.cross formulation at detector-component sizes."""
    pts = np.unique(points.astype(np.float64), axis=0)
    if len(pts) <= 2:
        return pts
    plist = [(float(x), float(y)) for x, y in pts]

    def build(seq):
        h: list[tuple[float, float]] = []
        for px, py in seq:
            while (
                len(h) >= 2
                and (h[-1][0] - h[-2][0]) * (py - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (px - h[-2][0])
                <= 0
            ):
                h.pop()
            h.append((px, py))
        return h

    lower = build(plist)
    upper = build(plist[::-1])
    return np.array(lower[:-1] + upper[:-1])


def axis_extreme_points(pts: np.ndarray) -> np.ndarray:
    """Hull-candidate reduction for integer grids: for each distinct first
    coordinate keep only the min/max second coordinate — the only points
    that can be hull vertices. Shrinks hull input from O(area) to
    O(distinct rows) with an identical hull."""
    a, b = pts[:, 0], pts[:, 1]
    order = np.lexsort((b, a))
    a_s, b_s = a[order], b[order]
    first = np.r_[True, a_s[1:] != a_s[:-1]]
    last = np.r_[a_s[1:] != a_s[:-1], True]
    keep = np.concatenate([np.flatnonzero(first), np.flatnonzero(last)])
    return np.column_stack([a_s[keep], b_s[keep]])


def min_area_box(points: np.ndarray):
    """Minimum-area enclosing rectangle via rotating calipers over the
    convex hull. Returns (center(2,), u(2,), v(2,), eu, ev): orthonormal
    axes and extents — the box corners are center ± u·eu/2 ± v·ev/2. The
    optimal rectangle always has an edge collinear with a hull edge, so
    scanning hull edges is exact. Shared core of K2's min_area_rect and
    K8's db_postprocess boxes."""
    hull = convex_hull(points)
    if len(hull) == 1:
        return hull[0], np.array([1.0, 0.0]), np.array([0.0, 1.0]), 0.0, 0.0
    if len(hull) == 2:
        d = hull[1] - hull[0]
        n = float(np.hypot(*d))
        u = d / n
        v = np.array([-u[1], u[0]])
        return (hull[0] + hull[1]) / 2.0, u, v, n, 0.0
    best = None
    m = len(hull)
    for i in range(m):
        d = hull[(i + 1) % m] - hull[i]
        n = float(np.hypot(*d))
        if n == 0:
            continue
        u = d / n
        v = np.array([-u[1], u[0]])
        pu = hull @ u
        pv = hull @ v
        eu = float(pu.max() - pu.min())
        ev = float(pv.max() - pv.min())
        if best is None or eu * ev < best[0] - 1e-12:
            center = ((pu.max() + pu.min()) / 2) * u + ((pv.max() + pv.min()) / 2) * v
            best = (eu * ev, center, u, v, eu, ev)
    _, center, u, v, eu, ev = best
    return center, u, v, eu, ev


def min_area_rect(points: np.ndarray) -> tuple[np.ndarray, tuple[float, float], float]:
    """K2: cv2.minAreaRect twin over min_area_box (ref
    preprocessing_module.py:70). Returns (center, (w, h), angle_deg) with
    the legacy cv2 convention the reference's adjustment logic assumes:
    angle ∈ [-90, 0), `w` measured along the angle direction."""
    center, u, _v, w, h = min_area_box(points)
    ang = float(np.degrees(np.arctan2(u[1], u[0])))
    ang = ang % 180.0
    if ang >= 90.0:
        ang -= 180.0  # → [-90, 90)
    if ang >= 0.0:  # → [-90, 0), rotating the width direction by -90 swaps w/h
        ang -= 90.0
        w, h = h, w
    return center, (w, h), ang


def estimate_skew_angle(gray: np.ndarray, method: str = "minrect") -> float:
    """K2: skew estimate, reference semantics (ref preprocessing_module.py:32-102):
    invert → Otsu → coords of foreground in (y,x) order (np.where, exactly as
    the reference feeds cv2.minAreaRect) → min-area-rect angle, `+90` when the
    rect is "standing up" (w < h), with the reliability guards F9:
    <50 fg pixels → 0; |angle|>45 → 0; |angle|<0.1 → 0.

    method='pca' keeps the round-1 principal-axis stand-in (second moments of
    the point cloud — the quantity minAreaRect approximates for elongated
    masses); 'minrect' is the default reference-faithful path.
    """
    inv = 255 - gray
    t = otsu_threshold(inv)
    if method == "minrect":
        coords = np.column_stack(np.nonzero(inv > t))  # (y, x) — ref order
        if coords.shape[0] < 50:
            return 0.0
        # per-row extremes only: identical hull, O(rows) instead of O(area)
        # points into the rotating calipers (matters on full-page scans)
        _c, (w, h), angle = min_area_rect(axis_extreme_points(coords))
        # ref :86 `if w < h: angle += 90` under cv2's legacy box convention;
        # our rect convention measures w along the angle direction and the
        # (y,x) point order mirrors the frame, which maps cv2's condition to
        # h < w and flips the angle sign. Calibrated so the K5 composition
        # (estimate → rotate_image) actually deskews — the observable
        # contract — verified to ≤0.5° residual by test_deskew_accuracy.
        if h < w:
            angle = angle + 90.0
        angle = -angle
    else:
        ys, xs = np.nonzero(inv > t)
        if ys.size < 50:
            return 0.0
        x = xs - xs.mean()
        y = ys - ys.mean()
        cov_xy = float((x * y).mean())
        var_x = float((x * x).mean())
        var_y = float((y * y).mean())
        angle = 0.5 * np.degrees(np.arctan2(2.0 * cov_xy, var_x - var_y))
    if abs(angle) > 45.0:
        return 0.0
    if abs(angle) < 0.1:
        return 0.0
    return float(angle)


def _cubic_weight(t: np.ndarray, a: float = -0.75) -> np.ndarray:
    """Bicubic convolution kernel, a=-0.75 (the cv2 INTER_CUBIC constant)."""
    t = np.abs(t)
    w1 = ((a + 2.0) * t - (a + 3.0)) * t * t + 1.0  # |t| <= 1
    w2 = a * (((t - 5.0) * t + 8.0) * t - 4.0)  # 1 < |t| < 2
    return np.where(t <= 1.0, w1, np.where(t < 2.0, w2, 0.0))


def rotate_image(
    gray: np.ndarray,
    angle_deg: float,
    border_white: bool,
    interp: str = "cubic",
) -> np.ndarray:
    """K3: rotate about center by -angle (deskew), border filled white/black
    by the corner vote (A5, ref preprocessing_module.py:104-156).

    interp='cubic' (default) is the reference's INTER_CUBIC: 4×4 bicubic
    convolution (a=-0.75), saturated to uint8, constant border. 'nearest'
    keeps the round-1 stand-in for speed-sensitive callers."""
    if angle_deg == 0.0:
        return gray.copy()
    h, w = gray.shape
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    theta = np.radians(-angle_deg)
    cos_t, sin_t = np.cos(theta), np.sin(theta)
    yy, xx = np.mgrid[0:h, 0:w]
    # inverse map: output pixel ← source pixel
    xs = cos_t * (xx - cx) + sin_t * (yy - cy) + cx
    ys = -sin_t * (xx - cx) + cos_t * (yy - cy) + cy
    fill = 255.0 if border_white else 0.0
    if interp == "nearest":
        xi = np.rint(xs).astype(np.int64)
        yi = np.rint(ys).astype(np.int64)
        valid = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
        out = np.full_like(gray, int(fill))
        out[valid] = gray[yi[valid], xi[valid]]
        return out
    # bicubic: weighted 4×4 neighborhood, out-of-image taps read the border
    x0 = np.floor(xs).astype(np.int64)
    y0 = np.floor(ys).astype(np.int64)
    fx = xs - x0
    fy = ys - y0
    imgf = gray.astype(np.float64)
    acc = np.zeros((h, w), dtype=np.float64)
    for dy in range(-1, 3):
        wy = _cubic_weight(fy - dy)
        yi = y0 + dy
        for dx in range(-1, 3):
            wx = _cubic_weight(fx - dx)
            xi = x0 + dx
            valid = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
            sample = np.where(valid, imgf[np.clip(yi, 0, h - 1), np.clip(xi, 0, w - 1)], fill)
            acc += wy * wx * sample
    return np.clip(np.rint(acc), 0, 255).astype(np.uint8)


def corner_border_white(gray: np.ndarray) -> bool:
    """A5: mean of the 4 corner pixels > 128 → white border
    (ref preprocessing_module.py:142-144)."""
    h, w = gray.shape
    corners = np.array(
        [gray[0, 0], gray[0, w - 1], gray[h - 1, 0], gray[h - 1, w - 1]],
        dtype=np.float64,
    )
    return bool(corners.mean() > 128)


_SMALL_GAUSSIAN = {  # cv2 getGaussianKernel fixed tables for ksize <= 7
    1: [1.0],
    3: [0.25, 0.5, 0.25],
    5: [0.0625, 0.25, 0.375, 0.25, 0.0625],
    7: [0.03125, 0.109375, 0.21875, 0.28125, 0.21875, 0.109375, 0.03125],
}


def gaussian_kernel_1d(ksize: int) -> np.ndarray:
    """cv2.getGaussianKernel twin for sigma<=0: fixed small tables for
    ksize<=7, else sigma = 0.3*((ksize-1)*0.5 - 1) + 0.8, normalized."""
    if ksize in _SMALL_GAUSSIAN:
        return np.array(_SMALL_GAUSSIAN[ksize])
    sigma = 0.3 * ((ksize - 1) * 0.5 - 1.0) + 0.8
    x = np.arange(ksize, dtype=np.float64) - (ksize - 1) / 2.0
    k = np.exp(-(x * x) / (2.0 * sigma * sigma))
    return k / k.sum()


def binarize_adaptive(
    gray: np.ndarray, block_size: int = 11, c: int = 7, method: str = "gaussian"
) -> np.ndarray:
    """K4: adaptive threshold, reference semantics — per-pixel threshold =
    gaussian-weighted local mean over a (block×block) window minus C
    (cv2.adaptiveThreshold ADAPTIVE_THRESH_GAUSSIAN_C + THRESH_BINARY, ref
    preprocessing_module.py:158-202; block forced odd, same as :178-190).
    Separable gaussian with cv2's kernel (fixed small tables / the sigma
    formula) over replicate-padded borders. method='mean' keeps the round-1
    box-mean stand-in. Returns 0/255 uint8."""
    if block_size % 2 == 0:
        block_size += 1
    pad = block_size // 2
    padded = np.pad(gray.astype(np.float64), pad, mode="edge")
    h, w = gray.shape
    k = block_size
    if method == "gaussian":
        from numpy.lib.stride_tricks import sliding_window_view

        g = gaussian_kernel_1d(k)
        horiz = sliding_window_view(padded, k, axis=1) @ g  # (h+2p, w)
        local_mean = np.tensordot(
            sliding_window_view(horiz, k, axis=0), g, axes=([2], [0])
        )  # (h, w)
    else:
        ii = np.cumsum(np.cumsum(padded, axis=0), axis=1)
        ii = np.pad(ii, ((1, 0), (1, 0)))
        s = ii[k:, k:] - ii[:-k, k:] - ii[k:, :-k] + ii[:-k, :-k]
        local_mean = s[:h, :w] / (k * k)
    return np.where(gray.astype(np.float64) > local_mean - c, 255, 0).astype(np.uint8)


def preprocess_pipeline(img: np.ndarray) -> np.ndarray:
    """K5: gray → deskew → binarize, fixed order
    (ref preprocessing_module.py:205-259)."""
    if not isinstance(img, np.ndarray) or img.ndim not in (2, 3):
        raise ValueError("preprocess_pipeline expects a 2-D or 3-D ndarray")
    gray = to_grayscale(img)
    angle = estimate_skew_angle(gray)
    rotated = rotate_image(gray, angle, corner_border_white(gray))
    return binarize_adaptive(rotated)


# ---------------------------------------------------------------------------
# K6: detection preprocess (ref local_ocr_engine.py:145-179)
# ---------------------------------------------------------------------------

IMAGENET_MEAN = np.array([0.485, 0.456, 0.406], dtype=np.float64)
IMAGENET_STD = np.array([0.229, 0.224, 0.225], dtype=np.float64)


def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """cv2.resize INTER_LINEAR twin: half-pixel-center sampling, edge clamp.
    Works on (H,W) or (H,W,C); float64 out."""
    h, w = img.shape[:2]
    xs = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    ys = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    x0 = np.clip(np.floor(xs), 0, w - 1).astype(np.int64)
    y0 = np.clip(np.floor(ys), 0, h - 1).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fx = np.clip(xs - x0, 0.0, 1.0)
    fy = np.clip(ys - y0, 0.0, 1.0)
    im = img.astype(np.float64)
    if im.ndim == 2:
        top = im[y0][:, x0] * (1 - fx) + im[y0][:, x1] * fx
        bot = im[y1][:, x0] * (1 - fx) + im[y1][:, x1] * fx
        return top * (1 - fy)[:, None] + bot * fy[:, None]
    fx3 = fx[None, :, None]
    fy3 = fy[:, None, None]
    top = im[y0][:, x0] * (1 - fx3) + im[y0][:, x1] * fx3
    bot = im[y1][:, x0] * (1 - fx3) + im[y1][:, x1] * fx3
    return top * (1 - fy3) + bot * fy3


def detection_preprocess(
    img: np.ndarray,
    target_h: int = 736,
    target_w: int = 736,
    mean: np.ndarray = IMAGENET_MEAN,
    std: np.ndarray = IMAGENET_STD,
) -> tuple[np.ndarray, float]:
    """K6 (ref local_ocr_engine.py:145-179): aspect-preserving resize by
    min(target/h, target/w) (int-truncated dims), zero-pad bottom/right to
    (target_h, target_w), (x/255 − ImageNet mean)/std, HWC→CHW, batch dim.
    Grayscale input is stacked to 3 channels (the GRAY2BGR convention the
    reference applies before its models). Returns (tensor (1,3,H,W) float32,
    resize_ratio) — the ratio the detector's boxes are divided by on the way
    back to image coordinates (K8, ref :247)."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=2)
    h, w = img.shape[:2]
    resize_ratio = min(target_h / h, target_w / w)
    new_h, new_w = int(h * resize_ratio), int(w * resize_ratio)
    resized = resize_bilinear(img, new_h, new_w)
    padded = np.zeros((target_h, target_w, 3), dtype=np.float64)
    padded[:new_h, :new_w] = resized
    norm = (padded / 255.0 - mean) / std
    chw = np.transpose(norm, (2, 0, 1)).astype(np.float32)
    return chw[None], resize_ratio


# ---------------------------------------------------------------------------
# fake detection: horizontal-band proposer with the reference's filters
# ---------------------------------------------------------------------------


def detect_bands(gray: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Fake DBNet (K7/K8): propose up to DET_MAX_CANDIDATES horizontal bands.

    seg_map = gray/255 (stand-in for the model's probability map).
    Band rows where the row-mean of (seg_map > DET_DB_THRESH) exceeds 0.5
    are foreground; contiguous foreground row-runs become boxes (x,y,w,h).
    Filters preserved from the reference:
      F3 box-score:  mean seg_map inside the band >= DET_DB_BOX_THRESH
      F4 min size:   min(w,h) >= DET_MIN_BOX_SIZE
      F5 cap:        first DET_MAX_CANDIDATES runs in scan order
    """
    seg = gray.astype(np.float64) / 255.0
    fg_rows = (seg > DET_DB_THRESH).mean(axis=1) > 0.5
    boxes: list[tuple[int, int, int, int]] = []
    h, w = gray.shape
    y = 0
    while y < h and len(boxes) < DET_MAX_CANDIDATES:
        if not fg_rows[y]:
            y += 1
            continue
        y0 = y
        while y < h and fg_rows[y]:
            y += 1
        band = seg[y0:y, :]
        mask = band > DET_DB_THRESH
        # masked mean — the reference scores mean probability under the
        # contour mask, not over the whole bounding rect (ref :218-220)
        score = float(band[mask].mean()) if mask.any() else 0.0
        if score < DET_DB_BOX_THRESH:
            continue
        bw, bh = w, y - y0
        if min(bw, bh) < DET_MIN_BOX_SIZE:
            continue
        boxes.append((0, y0, bw, bh))
    return boxes


def block_mean_resize(crop: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """K9/K10 stand-in: resize by block averaging (area interpolation).

    Fully vectorized (np.add.reduceat over both axes) — this sits on the
    per-span hot path, so no Python-level loops. Semantics: cell (i,j) is the
    mean of crop[ys[i]:max(ys[i+1],ys[i]+1), xs[j]:max(xs[j+1],xs[j]+1)] with
    ys/xs = floor(k*len/out) — identical to the loop formulation (reduceat
    with idx[i] >= idx[i+1] yields exactly arr[idx[i]], the single-row case).
    """
    h, w = crop.shape
    ys = (np.arange(out_h + 1) * h // out_h).astype(np.int64)
    xs = (np.arange(out_w + 1) * w // out_w).astype(np.int64)
    c = crop.astype(np.float64)
    row_sum = np.add.reduceat(c, ys[:-1], axis=0)
    cell_sum = np.add.reduceat(row_sum, xs[:-1], axis=1)
    dy = np.maximum(ys[1:] - ys[:-1], 1).astype(np.float64)
    dx = np.maximum(xs[1:] - xs[:-1], 1).astype(np.float64)
    return cell_sum / np.outer(dy, dx)


def crop_to_logits(gray: np.ndarray, box: tuple[int, int, int, int]) -> np.ndarray:
    """K10/K11 fake: crop → block-mean resize to (REC_T, C) → centered/scaled
    'logits'. Deterministic projection standing in for the ONNX rec model."""
    x, y, w, h = box
    crop = gray[y : y + h, x : x + w]
    n_classes = len(CHARSET) + 1
    resized = block_mean_resize(crop, REC_T, n_classes)
    return (resized - 128.0) / 16.0


def ctc_greedy_decode(logits: np.ndarray) -> tuple[str, float]:
    """T6: softmax → greedy path → blank/repeat collapse → mean-prob conf
    (ref local_ocr_engine.py:344-379). Single (T, C) sequence."""
    blank = len(CHARSET)
    exp = np.exp(logits - logits.max(axis=1, keepdims=True))
    probs = exp / exp.sum(axis=1, keepdims=True)
    idxs = np.argmax(probs, axis=1)
    chars: list[str] = []
    confs: list[float] = []
    last = -1
    for t, ci in enumerate(idxs):
        if ci == blank:
            last = -1
            continue
        if ci == last:
            continue
        if ci < len(CHARSET):
            chars.append(CHARSET[ci])
            confs.append(float(probs[t, ci]))
        last = int(ci)
    return "".join(chars), (float(np.mean(confs)) if confs else 0.0)


def recognize_image(payload: bytes) -> tuple[str, float]:
    """Full per-media-span pipeline: K-chain + T6 + K12/A1/A2 assembly.

    Returns (full_text, overall_confidence) with the reference's assembly
    semantics: error parts excluded from text, conf zeroed for error parts,
    overall conf = mean of conf>0 parts else 0.0 (ref local_ocr_engine.py:443-464).
    """
    img = bytes_to_image(payload)
    gray = to_grayscale(img)
    boxes = detect_bands(gray)
    if not boxes:
        return "", 0.0
    parts: list[tuple[str, float]] = []
    for b in boxes:
        text, conf = ctc_greedy_decode(crop_to_logits(gray, b))
        # deterministic failure injection so F7/F8 paths are exercised:
        # a box whose mean intensity is an exact multiple of 13 "fails".
        x, y, w, h = b
        mean_i = int(gray[y : y + h, x : x + w].mean())
        if mean_i % 13 == 0:
            text, conf = "Error: Rec Inference Failed", 0.0
        elif mean_i % 17 == 0:
            text, conf = "REC_FAIL", 0.0
        parts.append((text, conf))
    total, n = 0.0, 0
    texts = []
    for text, conf in parts:
        if text.startswith("Error:") or text == "REC_FAIL":
            conf = 0.0
        else:
            texts.append(text)
        if conf > 0.0:
            total += conf
            n += 1
    return "\n".join(texts), (total / n) if n else 0.0


# ---------------------------------------------------------------------------
# batched recognition: the whole K-chain + T6 vectorized over (N,32,32)
# ---------------------------------------------------------------------------


# Images per vectorized chunk. Small on purpose: the chunk's temporaries must
# stay L2-resident PER EXECUTOR CORE — at 2048 imgs (~17 MB) 32 concurrent
# workers saturate memory bandwidth and aggregate throughput drops 16×
# (measured 44k img/s vs 718k img/s at 128). The Arrow stage
# (dispatch._process_batch) resolves and recognizes media spans in chunks of
# this size too, so its decoded images never outgrow one chunk.
_REC_CHUNK = 128


def recognize_gray_batch(grays: np.ndarray) -> tuple[list[str], np.ndarray]:
    """Vectorized twin of recognize_image over a stacked (N, 32, 32) uint8
    batch — the hot path of the mapInArrow stage (north rule: zero per-row
    Python; a profiled per-image loop spent >80% of its time in numpy call
    dispatch, not arithmetic).

    Text output is bit-for-bit identical to the scalar chain: block-mean sums
    are exact integer sums in float64 (cumsum of integers < 2^53 is exact), so
    logits, argmax paths, and the mod-13/17 failure injection all match the
    per-image formulation; CTC confidences may differ in the last ulp
    (summation order) — within the pipeline's 1e-9 contract
    (tests/test_heavy_operators.py asserts batch vs scalar).

    Processes in fixed chunks so temporaries stay cache-resident; one
    monolithic pass was measured memory-bandwidth-bound (slower than scalar).

    Returns (full_texts, overall_confidences) with K12/A1/A2 assembly
    semantics (ref local_ocr_engine.py:443-464).
    """
    n = grays.shape[0]
    if n <= _REC_CHUNK:
        return _recognize_gray_chunk(grays)
    texts: list[str] = []
    confs = np.empty(n, dtype=np.float64)
    for lo in range(0, n, _REC_CHUNK):
        t, c = _recognize_gray_chunk(grays[lo : lo + _REC_CHUNK])
        texts.extend(t)
        confs[lo : lo + _REC_CHUNK] = c
    return texts, confs


def _recognize_gray_chunk(grays: np.ndarray) -> tuple[list[str], np.ndarray]:
    n_img = grays.shape[0]
    if n_img == 0:
        return [], np.empty(0, dtype=np.float64)
    # Integer-domain everywhere until the final small per-band arrays: the
    # uint8→float64 image copy tripled this kernel's memory traffic and the
    # 32-core aggregate is bandwidth-bound (see _REC_CHUNK note). All sums
    # below are exact integers, so results match the float64 formulation.
    # seg > 0.3 ⇔ integer pixel ≥ 77 — same mask, no float compare pass
    fgmask = grays >= int(np.floor(DET_DB_THRESH * 255.0)) + 1

    # --- band detection (K7/K8 fake, filters F2-F5) -------------------------
    # masked per-row sums/counts, exact in the narrowest accumulator that
    # holds them: a row sum is at most 255·32 (uint16), a count at most 32
    mrow_sum = np.sum(grays * fgmask, axis=2, dtype=np.uint16)  # (N, 32)
    mrow_cnt = fgmask.sum(axis=2, dtype=np.uint8)
    # row is foreground iff mask-fraction > 0.5 ⇔ count > IMG_SIDE/2 (exact)
    fg_rows = mrow_cnt > IMG_SIDE // 2
    padded = np.zeros((n_img, IMG_SIDE + 2), dtype=bool)
    padded[:, 1:-1] = fg_rows
    d = np.diff(padded.astype(np.int8), axis=1)
    starts = np.argwhere(d == 1)  # (runs, 2): [img, y0] in scan order
    ends_y = np.argwhere(d == -1)[:, 1]
    run_img = starts[:, 0]
    y0 = starts[:, 1]
    y1 = ends_y

    # F3 box-score: masked mean of seg inside the band (full width).
    # score = (Σ pixel)/255/count — algebraically the scalar Σ(pixel/255)/count;
    # float64 rounding differs by O(1e-16), which only matters if a band mean
    # lands within an ulp of the 0.6 threshold (deterministic corpus: none do,
    # asserted batch-vs-scalar in tests).
    msum = np.zeros((n_img, IMG_SIDE + 1), dtype=np.int64)
    np.cumsum(mrow_sum, axis=1, out=msum[:, 1:])
    mcnt = np.zeros((n_img, IMG_SIDE + 1), dtype=np.int64)
    np.cumsum(mrow_cnt, axis=1, out=mcnt[:, 1:])
    band_cnt = mcnt[run_img, y1] - mcnt[run_img, y0]
    with np.errstate(invalid="ignore"):
        score = np.where(
            band_cnt > 0,
            ((msum[run_img, y1] - msum[run_img, y0]) / 255.0) / np.maximum(band_cnt, 1),
            0.0,
        )
    h = y1 - y0
    ok = (score >= DET_DB_BOX_THRESH) & (np.minimum(IMG_SIDE, h) >= DET_MIN_BOX_SIZE)

    # F5 cap: first DET_MAX_CANDIDATES accepted runs per image, scan order
    if len(run_img):
        cs = np.cumsum(ok)
        img_change = np.r_[True, run_img[1:] != run_img[:-1]]
        firsts = np.flatnonzero(img_change)
        counts = np.diff(np.r_[firsts, len(run_img)])
        base = np.repeat(cs[firsts] - ok[firsts], counts)
        ok &= (cs - base) <= DET_MAX_CANDIDATES

    band_img = run_img[ok]
    by0 = y0[ok]
    by1 = y1[ok]
    bh = by1 - by0
    n_band = len(band_img)
    if n_band == 0:
        return [""] * n_img, np.zeros(n_img, dtype=np.float64)

    # --- K9/K10: block-mean resize of every band to (REC_T, C) --------------
    n_classes = len(CHARSET) + 1
    # dx skips the scalar block_mean_resize's max(...,1) clamp — safe ONLY
    # while n_classes <= IMG_SIDE (every column diff >= 1). Guard it so a
    # CHARSET grown past IMG_SIDE fails loudly instead of silently emitting
    # div-by-zero logits that diverge from the scalar chain.
    assert n_classes <= IMG_SIDE, "CHARSET+blank must fit in IMG_SIDE columns"
    xs = (np.arange(n_classes + 1) * IMG_SIDE // n_classes).astype(np.int64)
    x0, seg_w = xs[:-1], xs[1:] - xs[:-1]
    # exact integer column-segment sums (int32: max 255·32·32 < 2^31) by
    # column gathers: each segment's first column, then the k-th extra
    # column of every segment wider than k — cheaper than np.add.reduceat
    col_seg = grays[:, :, x0].astype(np.int32)  # (N, 32, C)
    for k in range(1, int(seg_w.max())):
        wide = np.flatnonzero(seg_w > k)
        col_seg[:, :, wide] += grays[:, :, x0[wide] + k]
    rc = np.zeros((n_img, IMG_SIDE + 1, n_classes), dtype=np.int32)
    np.cumsum(col_seg, axis=1, out=rc[:, 1:, :])  # (N, 33, C)
    dx = seg_w.astype(np.float64)

    # REC_T row blocks of every band at once: block t spans rows
    # [by0 + ys[t], by0 + max(ys[t+1], ys[t]+1)) with ys = t·h // REC_T;
    # both edges index the flattened (N·33, C) row prefix sums in one take
    ys = np.arange(REC_T + 1)[None, :] * bh[:, None] // REC_T  # (B, T+1)
    r0 = ys[:, :-1]
    r1 = np.maximum(ys[:, 1:], r0 + 1)
    base_row = (band_img * (IMG_SIDE + 1) + by0)[:, None]
    edges = np.take(
        rc.reshape(-1, n_classes), np.stack([base_row + r1, base_row + r0]), axis=0
    )  # (2, B, T, C)
    # int32 gather-diff → float64 (exact); arithmetic matches the scalar
    # float64 chain bit-for-bit
    sums = (edges[0] - edges[1]).astype(np.float64)
    area = (r1 - r0).astype(np.float64)[:, :, None] * dx[None, None, :]
    logits = (sums / area - 128.0) / 16.0

    # --- T6: batched CTC greedy decode --------------------------------------
    # softmax prob AT the argmax step is exp(max-max)/Σexp = 1/Σexp, so the
    # full probs tensor is never materialized; softmax is monotone, so
    # argmax(logits) == argmax(probs) with identical first-max tie-breaks.
    blank = len(CHARSET)
    path = logits.argmax(axis=2)  # (B, T)
    e = np.exp(logits - logits.max(axis=2, keepdims=True))
    pk = 1.0 / e.sum(axis=2)  # (B, T): prob of the argmax class per step
    keep = path != blank
    keep[:, 1:] &= path[:, 1:] != path[:, :-1]
    kept_cnt = keep.sum(axis=1)
    with np.errstate(invalid="ignore"):
        band_conf = np.where(kept_cnt > 0, (pk * keep).sum(axis=1) / np.maximum(kept_cnt, 1), 0.0)

    flat_keep = keep.ravel()
    band_of_step = np.repeat(np.arange(n_band), REC_T)[flat_keep]
    codes_kept = path.ravel()[flat_keep]
    char_lut = np.array(CHARSET)
    big = "".join(char_lut[codes_kept].tolist()) if codes_kept.size else ""
    cnts = np.bincount(band_of_step, minlength=n_band)
    ends = np.cumsum(cnts)
    starts_s = ends - cnts
    texts = [big[s:t] for s, t in zip(starts_s, ends)]

    # --- deterministic failure injection (F7/F8 paths) ----------------------
    # the column segments tile all IMG_SIDE columns, so a band's full pixel
    # sum is its outer row edges' prefix-sum difference summed over segments
    # (block 0 starts at by0, the last block ends at by1)
    band_sum = (edges[0, :, -1, :] - edges[1, :, 0, :]).sum(axis=1, dtype=np.int64)
    # int(float_mean) == integer floor division here: the quotient is a
    # rational with denominator ≤ 2^15, so float64 division can't round
    # across an integer boundary
    mean_i = band_sum // (bh * IMG_SIDE)
    fail13 = mean_i % 13 == 0
    fail17 = (~fail13) & (mean_i % 17 == 0)
    failed = fail13 | fail17
    band_conf = np.where(failed, 0.0, band_conf)

    # --- K12/A1/A2 assembly per image ----------------------------------------
    pos = band_conf > 0.0
    conf_sum = np.bincount(band_img[pos], weights=band_conf[pos], minlength=n_img)
    conf_n = np.bincount(band_img[pos], minlength=n_img)
    conf_img = np.where(conf_n > 0, conf_sum / np.maximum(conf_n, 1), 0.0)

    keep_band = np.flatnonzero(~failed)
    texts_ok = [texts[i] for i in keep_band]
    cnt_img = np.bincount(band_img[keep_band], minlength=n_img)
    out_texts: list[str] = []
    p = 0
    for c in cnt_img:
        out_texts.append("\n".join(texts_ok[p : p + c]))
        p += c
    return out_texts, conf_img
