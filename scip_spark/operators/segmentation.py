"""J4 + F12-F14: segmentation — one image record → N cell records.

Reference: src/scip/segmentation/__init__.py:70-119 (``to_events``:
crop pixels+mask to each labeled component's bbox, derive per-cell
combined mask/backgrounds/id/group) and the segmentation backends
(cellpose.py — GPU model, watershed_dapi.py). CellPose needs
torch+cellpose, absent in this container: ``segment_cellpose`` runs
the full batched-inference path (Arrow batch = inference batch,
per-worker model cache, parent/child label assignment) against an
INJECTABLE model; only the default model loader raises
NotImplementedError when the real libraries are missing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from scip_spark.kernels import imageops as K
from scip_spark.operators import map_events
from scip_spark.schema import decode_series


def _separate_labels(lab: np.ndarray) -> np.ndarray:
    """Labeled int mask → bool mask with a 1-px cleared line between
    touching distinct labels, so downstream bool re-labeling
    (``to_events`` with connectivity 2) keeps the objects distinct.

    Every 8-adjacent different-label pair has exactly one
    representation q = p + f over the forward offsets below, so
    clearing the p side breaks all 8-connectivity across the ridge.
    """
    sep = lab > 0
    h_, w_ = lab.shape
    for dy, dx in ((0, 1), (1, 0), (1, 1), (1, -1)):
        ys = slice(0, h_ - dy)
        xs = slice(-dx, w_) if dx < 0 else slice(0, w_ - dx)
        ys2 = slice(dy, h_)
        xs2 = slice(0, w_ + dx) if dx < 0 else slice(dx, w_)
        la, lb = lab[ys, xs], lab[ys2, xs2]
        ridge = (la > 0) & (lb > 0) & (la != lb)
        sep[ys, xs] &= ~ridge
    return sep


def segment_labels(df: DataFrame, backend: str = "watershed", parent_channel: int = 0) -> DataFrame:
    """Produce integer label masks on the parent channel."""
    if backend == "cellpose":
        return segment_cellpose(df, parent_channel=parent_channel)
    if backend != "watershed":
        raise ValueError(f"unknown backend {backend!r}")

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        pixels = decode_series(pdf["pixels"], pdf["pixels_shape"])
        # reference watershed_dapi.py:29-62: Otsu fg → distance
        # transform → peak markers → watershed on -distance. The
        # flood splits touching objects; clearing the 1-px line
        # between distinct labels (watershed_line semantics) keeps
        # them distinct through downstream bool re-labeling.
        # Two passes: foregrounds first, so the distance transforms of
        # the whole batch run as ONE stacked sweep (frames share a
        # shape; bit-identical to per-frame — see distance_transform_batch)
        fgs: list[np.ndarray] = []
        fg_of: list[int | None] = []
        for a in pixels:
            if a is None:
                fg_of.append(None)
                continue
            ch = a[parent_channel]
            fg = K.fill_holes(ch > K.threshold_otsu(ch))
            if fg.any():
                fg_of.append(len(fgs))
                fgs.append(fg)
            else:
                fg_of.append(-1)
        dists = K.distance_transform_batch(fgs)
        masks, shapes = [], []
        for a, fi in zip(pixels, fg_of):
            if fi is None:
                masks.append(None)
                shapes.append(None)
                continue
            if fi < 0:
                lab = np.zeros(a.shape[1:], dtype=np.int32)
            else:
                fg, dist = fgs[fi], dists[fi]
                markers, n = K.local_maxima_markers(dist, min_distance=3)
                if n == 0:
                    lab, _ = K.label(fg, 2)
                else:
                    lab = K.watershed(-dist, markers, mask=fg)
            sep = _separate_labels(lab)
            full = np.broadcast_to(sep, a.shape).copy()
            masks.append(full.ravel())
            shapes.append(list(a.shape))
        pdf = pdf.copy()
        pdf["mask"] = pd.Series(masks, dtype=object).values
        pdf["mask_shape"] = pd.Series(shapes, dtype=object).values
        return pdf

    return map_events(df, batch)


def _load_cellpose_model():
    """Default model loader: real CellPose when torch+cellpose exist
    (reference cellpose.py:70-87 builds ``models.Cellpose(model_type=
    'cyto2')`` once per worker); a clearly-marked stub otherwise."""
    try:
        from cellpose import models  # noqa: F401 (absent in this container)
    except ImportError as exc:  # pragma: no cover - torch/cellpose absent
        raise NotImplementedError(
            "CellPose segmentation requires torch+cellpose; not available "
            "in this environment. Inject model_loader= with a compatible "
            "model (eval(x, channels, diameter, batch_size, flow_threshold)"
            " -> (masks, flows, styles, diams)) to run this path."
        ) from exc
    return models.Cellpose(gpu=False, model_type="cyto2")  # pragma: no cover


def _assign_children(parent: np.ndarray, child: np.ndarray) -> np.ndarray:
    """Reference cellpose.py:109-121 child→parent assignment: keep a
    child label inside parent object ``i`` only if it overlaps >10% of
    the parent's area; surviving child pixels take label ``i``."""
    out = np.zeros_like(parent)
    for i in np.unique(parent)[1:]:
        region = parent == i
        vals, counts = np.unique(child[region], return_counts=True)
        keep = vals[(vals > 0) & (counts / region.sum() > 0.1)]
        if keep.size:
            out[np.isin(child, keep) & region] = i
    return out


def segment_cellpose(
    df: DataFrame,
    model_loader=None,
    channel_indices: list[int] | None = None,
    parent_channel: int = 0,
    dapi_channel: int = 1,
    cell_diameter: int | None = None,
    flow_threshold: float = 0.4,
) -> DataFrame:
    """F12: CellPose-semantics segmentation (reference cellpose.py:39-126),
    Spark-batched.

    The Arrow record batch IS the inference batch: each
    ``mapInPandas`` batch stacks its (parent|channel, dapi) pairs into
    one ``model.eval`` call, mirroring the reference's
    ``batch_size=128`` blocks. The model is created once per Python
    worker via :func:`scip_spark.operators.gpu.cached_model` (the
    reference's per-dask-worker cache, cellpose.py:70-87) — with
    ``spark.python.worker.reuse=true`` it is reused across batches and
    tasks. ``model_loader`` is injectable; the default requires the
    real cellpose package.

    Per event: parent labels from (parent_channel, dapi) eval; each
    other requested channel gets child labels from (channel, dapi)
    eval, assigned to parents by the >10%-overlap rule; the per-channel
    labeled stack is converted to the pipeline's bool-mask schema with
    1-px separation lines so label identity survives re-labeling.
    """
    from scip_spark.operators.gpu import cached_model

    if model_loader is None:
        # fail fast at plan time rather than deep inside a task: the
        # default loader needs the real cellpose package
        try:
            import cellpose  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "CellPose segmentation requires torch+cellpose; not "
                "available in this environment. Pass model_loader= with a "
                "compatible model, or use backend='watershed'."
            ) from exc
    loader = model_loader or _load_cellpose_model

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        pixels = decode_series(pdf["pixels"], pdf["pixels_shape"])
        live = [(i, a) for i, a in enumerate(pixels) if a is not None]
        masks: list = [None] * len(pixels)
        shapes: list = [None] * len(pixels)
        if live:
            model = cached_model("cellpose", loader)
            imgs = [a for _, a in live]
            nchan = imgs[0].shape[0]
            chans = channel_indices if channel_indices is not None else range(nchan)
            parents, _, _, _ = model.eval(
                x=[a[[parent_channel, dapi_channel]] for a in imgs],
                channels=[1, 2],
                diameter=cell_diameter,
                batch_size=128,
                flow_threshold=flow_threshold,
            )
            children = []
            for ci in chans:
                if ci == parent_channel:
                    continue
                o, _, _, _ = model.eval(
                    x=[a[[ci, dapi_channel]] for a in imgs],
                    channels=[1, 2],
                    diameter=cell_diameter,
                    batch_size=128,
                    flow_threshold=flow_threshold,
                )
                children.append((ci, o))
            for k, (i, a) in enumerate(live):
                par = np.asarray(parents[k])
                stack = np.repeat(par[np.newaxis], a.shape[0], axis=0)
                for ci, o in children:
                    stack[ci] = _assign_children(par, np.asarray(o[k]))
                sep = np.stack([_separate_labels(stack[c]) for c in range(a.shape[0])])
                masks[i] = sep.ravel()
                shapes[i] = list(a.shape)
        pdf = pdf.copy()
        pdf["mask"] = pd.Series(masks, dtype=object).values
        pdf["mask_shape"] = pd.Series(shapes, dtype=object).values
        return pdf

    return map_events(df, batch)


def mask_subtract(df: DataFrame, target: int, left: int, right: int) -> DataFrame:
    """F14 channel arithmetic: ``mask[target] = mask[left] & ~mask[right]``
    (reference _substract_mask, src/scip/segmentation/__init__.py:11-13)."""

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        masks = decode_series(pdf["mask"], pdf["mask_shape"], dtype=bool)
        out = []
        for m in masks:
            if m is None:
                out.append(None)
                continue
            m = m.copy()
            m[target] = m[left] & ~m[right]
            out.append(m.ravel())
        pdf = pdf.copy()
        pdf["mask"] = pd.Series(out, dtype=object).values
        return pdf

    return map_events(df, batch)


def to_events(df: DataFrame, parent_channel: int = 0, group_keys: list[str] | None = None) -> DataFrame:
    """1→N flatMap: one record per labeled component of the parent
    channel, pixels+mask cropped to the component bbox, ``id`` = label,
    ``group`` = join of group_keys (reference segmentation/__init__.py:85-118),
    NULL when a key part is NULL or no key column exists — the NULL
    group illumination correction used for the same record."""
    group_keys = group_keys or ["group"]

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        pixels = decode_series(pdf["pixels"], pdf["pixels_shape"])
        masks = decode_series(pdf["mask"], pdf["mask_shape"], dtype=bool)
        # per-column Python lists once: Series.__getitem__ per (event,
        # column) was a third of this batch's time (same values)
        col_vals = {c: pdf[c].tolist() for c in pdf.columns}
        gkeys = [k for k in group_keys if k in pdf.columns]
        out_rows = []
        for i in range(len(pdf)):
            a, m = pixels[i], masks[i]
            if a is None or m is None:
                continue
            parts = [col_vals[k][i] for k in gkeys]
            group = (
                None
                if not parts or any(pd.isna(v) for v in parts)
                else "_".join(str(v) for v in parts)
            )
            lab, n = K.label(m[parent_channel], 2)
            for l0 in range(1, n + 1):
                comp = lab == l0
                box = K.bounding_box(comp)
                minr, minc, maxr, maxc = box
                crop_px = a[:, minr:maxr, minc:maxc]
                crop_m = np.broadcast_to(
                    comp[minr:maxr, minc:maxc], crop_px.shape
                ).copy()
                row = {c: v[i] for c, v in col_vals.items()}
                row["pixels"] = crop_px.ravel()
                row["pixels_shape"] = list(crop_px.shape)
                row["mask"] = crop_m.ravel()
                row["mask_shape"] = list(crop_m.shape)
                row["combined_mask"] = comp[minr:maxr, minc:maxc].ravel()
                row["background"] = [0.0] * crop_px.shape[0]
                row["combined_background"] = [0.0] * crop_px.shape[0]
                row["bbox"] = [int(minr), int(minc), int(maxr), int(maxc)]
                row["regions"] = [int(crop_m[c].any()) for c in range(crop_px.shape[0])]  # reference segmentation/__init__.py:100-102
                row["id"] = int(l0)
                row["group"] = group
                out_rows.append(row)
        if not out_rows:
            return pd.DataFrame(columns=list(pdf.columns))
        return pd.DataFrame(out_rows, columns=list(pdf.columns))

    return map_events(df, batch)
