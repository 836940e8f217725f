"""P3-P6 + F2-F11: QC filters, mask construction, post-processing,
mask application.

Reference behaviour being re-expressed (not ported):
- ``compute_filters`` (src/scip/masking/__init__.py:75-95): per-channel
  QC predicates produce ``mask_filter``; a failing *main* channel nulls
  ``pixels`` (soft delete — the row survives).
- mask methods li/otsu/sobel/spot/circle/watershed
  (src/scip/masking/{li,otsu,sobel,spot,circle,watershed}.py): each
  yields a per-channel boolean mask + per-channel region counts.
- ``mask_post_process`` (masking/__init__.py:245-251),
  ``remove_regions_touching_border`` (masking/__init__.py:132-180),
  ``get_bounding_box`` (masking/__init__.py:224-242), and ``apply``
  (masking/__init__.py:183-221: combined mask union, per-channel mean
  background of unmasked pixels).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from scip_spark.kernels import imageops as K
from scip_spark.kernels.stats import normaltest_filter
from scip_spark.operators import map_events
from scip_spark.schema import decode_series, encode_series

# ---------------------------------------------------------------------------
# QC filters (P3-P6)
# ---------------------------------------------------------------------------

FILTERS: dict[str, Callable[[np.ndarray, float], bool]] = {
    "std": lambda x, threshold=0.0: bool(np.std(x) > threshold),
    "value_range": lambda x, threshold=0.0: bool((x.max() - x.min()) > threshold),
    # reference filters/normaltest.py:5-10: keep channels whose pixels
    # are NOT normal at the .05 level (threshold overrides the level)
    "normaltest": lambda x, threshold=0.05: normaltest_filter(
        x, threshold if threshold > 0 else 0.05
    ),
}


def compute_filters(
    df: DataFrame, method: str = "std", threshold: float = 0.0, main_channel: int = 0
) -> DataFrame:
    """Per-channel QC predicate → ``mask_filter``; failing main channel
    nulls ``pixels`` (row survives — soft delete)."""
    pred = FILTERS[method]

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = decode_series(pdf["pixels"], pdf["pixels_shape"])
        flags_col, keep = [], []
        for a in arrs:
            if a is None:
                flags_col.append(None)
                keep.append(False)
            else:
                flags = [pred(a[c], threshold) for c in range(a.shape[0])]
                flags_col.append(flags)
                keep.append(bool(flags[main_channel]))
        pdf = pdf.copy()
        pdf["mask_filter"] = pd.Series(flags_col, dtype=object).values
        dropped = [None if not k else p for k, p in zip(keep, pdf["pixels"])]
        dropped_sh = [None if not k else s for k, s in zip(keep, pdf["pixels_shape"])]
        pdf["pixels"] = pd.Series(dropped, dtype=object).values
        pdf["pixels_shape"] = pd.Series(dropped_sh, dtype=object).values
        return pdf

    return map_events(df, batch)


# ---------------------------------------------------------------------------
# mask methods (F2-F7)
# ---------------------------------------------------------------------------


def _shape_groups(imgs: list[np.ndarray]) -> dict:
    """indices grouped by (shape, dtype) — batched kernels need
    uniform stacks, and stacking mixed dtypes would upcast."""
    groups: dict = {}
    for i, x in enumerate(imgs):
        groups.setdefault((x.shape, x.dtype.str), []).append(i)
    return groups


def _li_fronts(imgs: list[np.ndarray], smooth: float = 1.0) -> list[np.ndarray]:
    """The li chain's convolution front (gaussian → sobel → gaussian)
    for MANY channel images: same-shape crops stack through the
    batched kernels, so the per-tap dispatches amortize over the
    group. Bit-identical per image to the 2-D kernels (batch variants
    are property-pinned; the full mask equality is pinned in
    tests/test_masking.py)."""
    out: list[np.ndarray] = [None] * len(imgs)  # type: ignore[list-item]
    for (_, _), idxs in _shape_groups(imgs).items():
        stack = np.stack([imgs[i] for i in idxs])
        edges = K.gaussian_batch(K.sobel_batch(K.gaussian_batch(stack, smooth)), 2.0 * smooth)
        for j, i in enumerate(idxs):
            out[i] = edges[j].copy()
    return out


def _li_tail(edges: np.ndarray) -> tuple[np.ndarray, int]:
    """(mask, n_regions) — the region count rides out of the final
    remove_small_objects labeling instead of a second label pass."""
    t = K.threshold_li(edges)
    m = edges > t
    m = K.remove_small_holes(m, int(m.shape[0] * m.shape[1] / 4))
    return K.remove_small_objects_n(m, 20)


def _mask_li(channel: np.ndarray, smooth: float = 1.0, **_) -> np.ndarray:
    # reference li.py:36-43: gaussian(s) → sobel → gaussian(2s) → Li
    # threshold → remove_small_holes(HW/4) → remove_small_objects(20)
    return _li_tail(_li_fronts([channel], smooth)[0])[0]


def _otsu_fronts(imgs: list[np.ndarray]) -> list[np.ndarray]:
    """The otsu chain's filter front (median residual → gaussian →
    sobel → rescale → median) for MANY channel images, shape/dtype-
    grouped through the batched kernels. The per-image scalars
    (min/max/span) become per-slice (N,1,1) reductions — min/max are
    order-free and the rescale arithmetic is elementwise, so every
    front is bit-identical to the single-image chain (mask equality
    pinned in tests/test_masking.py)."""
    xs: list[np.ndarray] = []
    digitized: list[bool] = []
    for x in imgs:
        if x.max() > 512:
            edges = np.histogram_bin_edges(x.ravel(), bins=512)
            x = np.digitize(x, bins=edges).astype(np.float64)
            digitized.append(True)
        else:
            digitized.append(False)
        xs.append(x)
    out: list[np.ndarray] = [None] * len(xs)  # type: ignore[list-item]
    # group by (shape, dtype, digitized): a digitized group's values
    # are ints in [0, 513], so its FIRST median can take the int16
    # gather path too (bit-identical; real uint16 microscopy channels
    # always digitize). Raw-float groups keep the float64 median and
    # never pay the int path's pad+cast+compare probe.
    groups: dict = {}
    for i, x in enumerate(xs):
        groups.setdefault((x.shape, x.dtype.str, digitized[i]), []).append(i)
    for (_, _, dig), idxs in groups.items():
        X = np.stack([xs[i] for i in idxs])
        P = (K.median_disk_batch_int if dig else K.median_disk_batch)(X, 5)
        P = X.astype(np.float64) - P
        P = K.gaussian_batch(P, 0.5)
        P = K.sobel_batch(P)
        pmin = P.min(axis=(1, 2))[:, None, None]
        span = P.max(axis=(1, 2))[:, None, None] - pmin
        span = np.where(span == 0, 1.0, span)  # the 2-D chain's `or 1.0`
        P = (P - pmin) / span
        # uint16 cast in the reference; X.max is the 2-D chain's x.max()
        P = np.floor(P * X.max(axis=(1, 2))[:, None, None])
        # P is floor()'d into [0, max<=513]: the int16 gather median is
        # bit-identical and ~2x (it self-checks and falls back if not)
        P = K.median_disk_batch_int(P, 5)
        for j, i in enumerate(idxs):
            out[i] = P[j].copy()
    return out


def _otsu_tail(p: np.ndarray) -> tuple[np.ndarray, int]:
    """(mask, n_regions) — see _li_tail."""
    m = p > K.threshold_otsu(p)
    m = K.remove_small_holes(m, int(m.shape[0] * m.shape[1] / 4))
    return K.remove_small_objects_n(m, 20)


def _mask_otsu(channel: np.ndarray, **_) -> np.ndarray:
    # reference otsu.py:19-44: (digitize>512) → median(disk 5) residual →
    # gaussian(.5) → sobel → rescale to [0, max] → median(disk 5) →
    # Otsu threshold → remove_small_holes(HW/4) → remove_small_objects(20)
    return _otsu_tail(_otsu_fronts([channel])[0])[0]


def _mask_sobel(channel: np.ndarray, **_) -> np.ndarray:
    # reference sobel.py:24-41: sobel elevation → GRAYSCALE closing
    # (disk 2) → q90 threshold → mask_post_process
    elev = K.sobel(channel)
    closed = K.gray_closing(elev, K.disk(2))
    m = closed > np.quantile(closed, 0.9)
    if not m.any():
        return m
    return _post_process(m)[0]


def _mask_spot(channel: np.ndarray, spotsize: int = 3, **_) -> np.ndarray:
    # reference spot.py:35-41: white_tophat(disk(spotsize)) → q99
    tophat = K.white_tophat(channel.astype(np.float64), K.disk(spotsize))
    return tophat > np.quantile(tophat, 0.99)


def _mask_circle(channel: np.ndarray, **_) -> np.ndarray:
    h, w = channel.shape
    r = min(h, w) // 3
    y, x = np.ogrid[:h, :w]
    return ((y - h / 2 + 0.5) ** 2 + (x - w / 2 + 0.5) ** 2) <= r * r


def _mask_watershed(channel: np.ndarray, **_) -> np.ndarray:
    # reference watershed.py:37-55: sobel elevation → grayscale closing
    # (disk 2) → Otsu-derived bg/fg markers (thresh ∓ 50%) → compact
    # watershed flood of the RAW channel (watershed.py:48:
    # ``watershed(image[dim], markers, compactness=1)``) → keep
    # ``segmentation == segmentation.max()`` (watershed.py:50-54: with
    # background markers only, label 1 IS the kept region)
    elev = K.sobel(channel)
    closed = K.gray_closing(elev, K.disk(2))
    t = K.threshold_otsu(closed)
    markers = np.zeros(channel.shape, dtype=np.int32)
    markers[closed < t - t * 0.5] = 1
    markers[closed > t + t * 0.5] = 2
    flooded = K.watershed(channel, markers, compactness=1.0)
    top = int(flooded.max())
    if top == 0:
        return np.zeros(channel.shape, dtype=bool)
    return _post_process(flooded == top)[0]


def _post_process(m: np.ndarray) -> tuple[np.ndarray, int]:
    """mask_post_process (reference masking/__init__.py:245-251):
    remove_small_holes(300) → expand_labels(1) →
    remove_small_objects(20) → label → count."""
    m = K.remove_small_holes(m, 300)
    lab, _ = K.label(m, 2)
    lab = K.expand_labels(lab, 1)
    m = lab > 0
    m = K.remove_small_objects(m, 20)
    _, n = K.label(m, 2)
    return m, n

MASK_METHODS: dict[str, Callable[..., np.ndarray]] = {
    "li": _mask_li,
    "otsu": _mask_otsu,
    "sobel": _mask_sobel,
    "spot": _mask_spot,
    "circle": _mask_circle,
    "watershed": _mask_watershed,
}


#: mask methods with a batchable filter front: (fronts_fn, tail_fn).
#: fronts_fn(list of channel images, **kwargs) -> list of real-valued
#: pre-threshold images; tail_fn is the per-image threshold+morphology.
MASK_FRONTS = {
    "li": (_li_fronts, _li_tail),
    "otsu": (_otsu_fronts, _otsu_tail),
}


def make_mask_batch(method: str = "otsu", **kwargs) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """The per-Arrow-batch kernel behind :func:`get_mask`, exposed as a
    factory so the pipeline builder (plans/pipeline.py) can run several
    mask methods inside ONE mapInPandas pass — same closure either way,
    so ``build`` and the composed operators are bit-identical."""
    fn = MASK_METHODS[method]
    front = MASK_FRONTS.get(method)

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = decode_series(pdf["pixels"], pdf["pixels_shape"])
        flt = pdf["mask_filter"] if "mask_filter" in pdf.columns else [None] * len(pdf)

        # pass 1: plan per (event, channel); QC-passing channels of a
        # front-capable method run their filter chains BATCHED across
        # the whole Arrow batch (shape-grouped — the big dispatch win
        # on tiny event crops), thresholds + morphology stay per image
        plan: list[list] = []  # per event: list of ("zero"|"job", idx)
        jobs: list[np.ndarray] = []
        for a, mf in zip(arrs, flt):
            if a is None:
                plan.append(None)
                continue
            ev = []
            for c in range(a.shape[0]):
                # channels failing QC (mask_filter False) get an empty
                # mask and 0 regions (reference li.py:33-47)
                if mf is not None and not pd.isna(mf).all() and not bool(mf[c]):
                    ev.append(("zero", None))
                else:
                    ev.append(("job", len(jobs)))
                    jobs.append(a[c])
            plan.append(ev)
        if front is not None and jobs:
            fronts_fn, tail_fn = front
            pres = fronts_fn(jobs, **kwargs)
            results = [tail_fn(p) for p in pres]  # (mask, n_regions)
        else:
            results = [(m, int(K.label(m, 2)[1])) for m in (fn(img, **kwargs) for img in jobs)]

        masks, regions = [], []
        for a, ev in zip(arrs, plan):
            if ev is None:
                masks.append(None)
                regions.append(None)
                continue
            chans, cc = [], []
            for kind, ji in ev:
                if kind == "zero":
                    chans.append(np.zeros(a.shape[1:], dtype=bool))
                    cc.append(0)
                else:
                    m, n_reg = results[ji]
                    chans.append(m)
                    cc.append(n_reg)
            masks.append(np.stack(chans))
            regions.append(cc)
        flat, shape = encode_series(masks)
        pdf = pdf.copy()
        pdf["mask"] = flat.values
        pdf["mask_shape"] = shape.values
        pdf["regions"] = pd.Series(regions, dtype=object).values
        return pdf

    return batch


def get_mask(df: DataFrame, method: str = "otsu", **kwargs) -> DataFrame:
    """Attach per-channel boolean ``mask`` + ``regions`` counts."""
    return map_events(df, make_mask_batch(method, **kwargs))


# ---------------------------------------------------------------------------
# F9: remove regions touching the border
# ---------------------------------------------------------------------------


def remove_border_regions(df: DataFrame, main_channel: int = 0, max_fraction: float = 0.25) -> DataFrame:
    """Drop connected components covering more than ``max_fraction`` of
    min(h,w) along any border; if the main channel empties, null
    ``mask`` and ``pixels`` (reference masking/__init__.py:132-180)."""

    def clean(m: np.ndarray) -> np.ndarray:
        # reference _regions_touching (masking/__init__.py:132-156):
        # border occupancy is counted over the CONCATENATED four edges
        # (corners twice), and a component is dropped when its total
        # border count exceeds 25% of min(h, w)
        lab, n = K.label(m, 2)
        if n == 0:
            return m
        limit = int(min(m.shape) * max_fraction)
        border = np.concatenate([lab[0, :], lab[-1, :], lab[:, 0], lab[:, -1]])
        idx, counts = np.unique(border, return_counts=True)
        drop = idx[(idx > 0) & (counts > limit)]
        return m & ~np.isin(lab, drop)

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        masks = decode_series(pdf["mask"], pdf["mask_shape"], dtype=bool)
        new_masks, keep = [], []
        for m in masks:
            if m is None:
                new_masks.append(None)
                keep.append(True)
                continue
            cleaned = np.stack([clean(m[c]) for c in range(m.shape[0])])
            if not cleaned[main_channel].any():
                new_masks.append(None)
                keep.append(False)
            else:
                new_masks.append(cleaned)
                keep.append(True)
        flat, shape = encode_series(new_masks)
        pdf = pdf.copy()
        pdf["mask"] = flat.values
        pdf["mask_shape"] = shape.values
        pdf["pixels"] = pd.Series(
            [p if k else None for p, k in zip(pdf["pixels"], keep)], dtype=object
        ).values
        pdf["pixels_shape"] = pd.Series(
            [s if k else None for s, k in zip(pdf["pixels_shape"], keep)], dtype=object
        ).values
        return pdf

    return map_events(df, batch)


# ---------------------------------------------------------------------------
# F10/F11: bounding box + mask application
# ---------------------------------------------------------------------------


def make_apply_mask_batch(
    combined_indices: list[int] | None = None,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Batch kernel behind :func:`apply_mask` (factory form for the
    fused multi-branch pipeline — see :func:`make_mask_batch`)."""

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        pixels = decode_series(pdf["pixels"], pdf["pixels_shape"])
        masks = decode_series(pdf["mask"], pdf["mask_shape"], dtype=bool)
        combined, backgrounds, comb_bg, bboxes = [], [], [], []
        for a, m in zip(pixels, masks):
            if m is None:
                combined.append(None)
                backgrounds.append(None)
                comb_bg.append(None)
                bboxes.append(None)
                continue
            idx = combined_indices if combined_indices is not None else range(m.shape[0])
            cm = np.zeros(m.shape[1:], dtype=bool)
            for c in idx:
                cm |= m[c]
            combined.append(cm.ravel())
            if a is not None:
                bg = []
                for c in range(m.shape[0]):
                    outside = a[c][~m[c]]
                    bg.append(float(outside.mean()) if outside.size else 0.0)
                backgrounds.append(bg)
                cb = []
                for c in range(m.shape[0]):
                    outside = a[c][~cm]
                    cb.append(float(outside.mean()) if outside.size else 0.0)
                comb_bg.append(cb)
            else:
                backgrounds.append(None)
                comb_bg.append(None)
            boxes = [K.bounding_box(m[c]) for c in range(m.shape[0])]
            boxes = [b for b in boxes if b is not None]
            if boxes:
                bboxes.append(
                    [
                        min(b[0] for b in boxes),
                        min(b[1] for b in boxes),
                        max(b[2] for b in boxes),
                        max(b[3] for b in boxes),
                    ]
                )
            else:
                bboxes.append(None)
        pdf = pdf.copy()
        pdf["combined_mask"] = pd.Series(combined, dtype=object).values
        pdf["background"] = pd.Series(backgrounds, dtype=object).values
        pdf["combined_background"] = pd.Series(comb_bg, dtype=object).values
        pdf["bbox"] = pd.Series(bboxes, dtype=object).values
        return pdf

    return batch


def apply_mask(df: DataFrame, combined_indices: list[int] | None = None) -> DataFrame:
    """Derive ``combined_mask`` (union over selected channels),
    per-channel ``background`` (mean of unmasked pixels),
    ``combined_background`` and ``bbox`` (union of channel bboxes)."""
    return map_events(df, make_apply_mask_batch(combined_indices))
