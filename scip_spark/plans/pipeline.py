"""Config-driven pipeline builder — the reference's YAML lifecycle
re-expressed as declarative DataFrame plan construction.

Reference: ``main()`` hard-wires stage order loading → projection →
illumination → segmentation → sampling → masking fan-out → filter →
normalization → features → export, each gated on its config key
(src/scip/main.py:63-282; YAML spec docs/source/usage.rst:12-87).

Here the same config dict drives construction of a Catalyst plan.
Divergence by design (SURVEY §7.0): the mask fan-out is not a set of
branch plans glued back together — the reference's fragile positional
concat (main.py:268) — but one pass that computes every branch side by
side on each record (SURVEY §2.3 J6's own 'better plan').
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from scip_spark.operators import map_events
from scip_spark.operators.features import (
    DEFAULT_FAMILIES,
    feature_columns,
    feature_schema,
    make_features_batch,
)
from scip_spark.operators.illumination import correct
from scip_spark.operators.masking import make_apply_mask_batch, make_mask_batch
from scip_spark.operators.normalization import group_extents, make_rescale_batch
from scip_spark.operators.projection import project
from scip_spark.operators.segmentation import segment_labels, to_events
from scip_spark.operators.threshold_filter import make_filter_sum_batch
from scip_spark.queries import PHI_95
from scip_spark.schema import ensure_event_columns

STAGES = [
    "project",
    "illumination_correction",
    "segment",
    "sample",
    "mask",
    "filter",
    "normalization",
    "feature_extraction",
]


class BuildCaches:
    """Ownership handle for the DataFrame ``build`` persists.

    The relation the population filter's stats action and the group
    extents read must outlive ``build`` (the caller's terminal action
    consumes it too), so it cannot be unpersisted inside the builder;
    without a handle each pipeline build leaks one cached relation for
    the session lifetime. Pass an instance to ``build`` and call
    :meth:`unpersist` once the terminal action (write/collect) has run.
    """

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []

    def add(self, frame: DataFrame) -> DataFrame:
        self.frames.append(frame)
        return frame

    def unpersist(self, blocking: bool = False) -> None:
        while self.frames:
            try:
                self.frames.pop().unpersist(blocking)
            except Exception:  # noqa: BLE001 — session may be stopped
                pass


#: branch-dependent event columns the single pass stores once per mask
#: method (suffixed ``<col>__<method>`` when there are several);
#: everything else — notably the pixel tensor, 25 KB/event — is stored
#: ONCE instead of once per branch.
_BRANCH_COLS = [
    "mask",
    "mask_shape",
    "regions",
    "combined_mask",
    "background",
    "combined_background",
    "bbox",
]


def _build_branches(
    df: DataFrame,
    cfg: dict[str, Any],
    caches: BuildCaches | None,
    methods: list[str],
    mask_cfg: dict[str, Any],
) -> DataFrame:
    """Single-pass branch pipeline: every mask method, mask application
    and the filter/extent scalars are computed in ONE mapInPandas over
    the event stream (stage A), and every branch's features are emitted
    side by side from a second one (stage B). No methods means one
    branch over the events' own (segmentation) masks. Reference
    contrast: SCIP pays one task graph per branch plus a positional
    concat (src/scip/masking/__init__.py:33-72, main.py:268).

    Stage A is persisted only when the filter's stats action or the
    extents collect reads it; otherwise stages A and B fuse into one
    Python worker per task.

    Every stage runs the batch closures behind the public operators
    (make_mask_batch/make_apply_mask_batch/make_filter_sum_batch/
    make_rescale_batch/make_features_batch), the population statistic
    aggregates the same filter_sum values, and the group extents fold
    the same per-record extents, so the output equals the operators
    composed per branch (tests/test_pipeline_builder.py pins it)."""
    want_filter = "filter" in cfg
    want_norm = "normalization" in cfg
    fe = cfg["feature_extraction"]
    nchannels = fe["nchannels"]
    families = fe.get("families") or DEFAULT_FAMILIES

    # (branch name, mask batch); None = keep the events' own masks
    branches = [
        (m, make_mask_batch(m, **mask_cfg.get("kwargs", {}))) for m in methods
    ] or [("raw", None)]
    multi = len(branches) > 1

    def stored(c: str, m: str) -> str:
        return f"{c}__{m}" if multi else c

    apply_batch = make_apply_mask_batch()
    fs_batch = (
        make_filter_sum_batch(
            cfg.get("filter", {}).get("channel", 0), with_extents=want_norm
        )
        if (want_filter or want_norm)
        else None
    )
    ext_cols = ["ch_min", "ch_max"] if want_norm else []
    view_cols = _BRANCH_COLS + ext_cols

    # ---- stage A: every branch's masks + scalars, one pass ----------
    def stage_a(pdf):
        out = pdf.copy()
        for m, mb in branches:
            b = pdf if mb is None else apply_batch(mb(pdf))
            if fs_batch is not None:
                b = fs_batch(b)
            for c in view_cols:
                out[stored(c, m)] = b[c].values
        if want_filter:
            # filter_sum is a function of the (shared) pixels only —
            # identical across branches, stored once
            out["filter_sum"] = b["filter_sum"].values
        return out

    types = {f.name: f.dataType for f in df.schema.fields}
    types.update({c: T.ArrayType(T.DoubleType()) for c in ext_cols})
    fields = list(df.schema.fields)
    for m, _ in branches:
        fields += [
            T.StructField(stored(c, m), types[c], True)
            for c in view_cols
            if stored(c, m) not in df.columns
        ]
    events = map_events(df, stage_a, T.StructType(fields))

    if want_filter or want_norm:
        # one spillable materialization serves the stats action, the
        # extent aggregation and the feature pass
        events = events.persist(StorageLevel.MEMORY_AND_DISK)
        if caches is not None:
            caches.add(events)

    # ---- population filter: ONE stats action (filter_sum is shared) --
    if want_filter:
        row = events.agg(
            F.avg("filter_sum").alias("mu"),
            F.stddev_pop("filter_sum").alias("sigma"),
        ).collect()[0]
        mu, sigma = row["mu"], row["sigma"]
        if mu is not None:
            keep = F.col("filter_sum") > F.lit(mu - PHI_95 * (sigma or 0.0))
            soft = ["pixels", "pixels_shape"] + [
                stored(c, m)
                for m, _ in branches
                for c in ("mask", "mask_shape", *ext_cols)
            ]
            events = events.withColumns({c: F.when(keep, F.col(c)) for c in soft})

    # ---- every branch's group extents: ONE pure-JVM aggregate over the
    # branches' extent columns stacked by method, ONE collect ----------
    if want_norm:
        key = cfg["normalization"].get("key", "group")
        luts: dict[str, dict] = {m: {} for m, _ in branches}
        stacked = events.select(
            key,
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("method"),
                            F.col(stored("ch_min", m)).alias("ch_min"),
                            F.col(stored("ch_max", m)).alias("ch_max"),
                        )
                        for m, _ in branches
                    ]
                )
            ),
        )
        for r in group_extents(stacked, [key, "method"]).collect():
            luts[r["method"]][(r[key], r["channel"])] = (r["gmin"], r["gmax"])
        rescales = {m: make_rescale_batch(luts[m], key=key) for m in luts}

    # ---- stage B: normalize + extract EVERY branch's features, one pass
    feats_batch = make_features_batch(nchannels, families)
    flat_cols = feature_columns(nchannels, families)
    meta_cols = ["path", "group", "id", "object_number", "regions"]

    def out_name(c: str, m: str) -> str:
        return f"feat_{m}_{c[5:]}" if multi else c

    def stage_b(pdf):
        pieces = []
        for i, (m, _) in enumerate(branches):
            view = pdf.assign(**{c: pdf[stored(c, m)] for c in view_cols})
            if want_norm:
                view = rescales[m](view)
            fdf = feats_batch(view).reset_index(drop=True)
            if i == 0:
                pieces.append(fdf[meta_cols])
            pieces.append(
                fdf[flat_cols].rename(columns={c: out_name(c, m) for c in flat_cols})
            )
        return pd.concat(pieces, axis=1)

    out_fields = [
        f for f in feature_schema(nchannels, families).fields if f.name in meta_cols
    ]
    for m, _ in branches:
        out_fields += [T.StructField(out_name(c, m), T.DoubleType()) for c in flat_cols]
    return map_events(events, stage_b, T.StructType(out_fields))


def build(
    df: DataFrame, config: dict[str, Any], caches: BuildCaches | None = None
) -> DataFrame:
    """Compose the stage operators per config into one feature
    DataFrame: one row per event, ``feat_<family>_…`` columns for zero
    or one mask method, ``feat_<method>_<family>_…`` for several.

    Config keys mirror the reference's YAML sections::

        {"project": {"op": "max"},
         "illumination_correction": {"key": "group"},
         "segment": {"backend": "watershed", "parent_channel": 0},
         "sample": {"n": 100, "seed": 42},
         "mask": {"methods": ["otsu"], "main_channel": 0},
         "filter": {"channel": 0},
         "normalization": {"key": "group"},
         "feature_extraction": {"nchannels": 3, "families": [...]}}

    ``feature_extraction`` is required: the plan ends in features.
    """
    cfg = {k: v for k, v in config.items() if v is not None}
    if "feature_extraction" not in cfg:
        raise ValueError("build: config has no 'feature_extraction' section")

    df = ensure_event_columns(df)

    if "project" in cfg:
        df = project(df, **cfg["project"])
    if "illumination_correction" in cfg:
        df = correct(df, **cfg["illumination_correction"])
    if "segment" in cfg:
        seg = cfg["segment"]
        df = segment_labels(df, **seg)
        df = to_events(df, parent_channel=seg.get("parent_channel", 0))
    if "sample" in cfg:
        n = cfg["sample"]["n"]
        seed = cfg["sample"].get("seed", 42)
        df = df.orderBy(F.rand(seed)).limit(n)

    mask_cfg = cfg.get("mask", {})
    # duplicate method names collapse (the suffixed branch columns
    # would otherwise be duplicated and fail with AMBIGUOUS_REFERENCE)
    methods = list(dict.fromkeys(mask_cfg.get("methods", [])))
    return _build_branches(df, cfg, caches, methods, mask_cfg)
