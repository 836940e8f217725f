"""Config-driven pipeline builder — the reference's YAML lifecycle
re-expressed as declarative DataFrame plan construction.

Reference: ``main()`` hard-wires stage order loading → projection →
illumination → segmentation → sampling → masking fan-out → filter →
normalization → features → export, each gated on its config key
(src/scip/main.py:63-282; YAML spec docs/source/usage.rst:12-87).

Here the same config dict drives construction of a Catalyst plan.
Divergence by design (SURVEY §7.0): multi-mask fan-out branches share
one cached upstream and rejoin on the record key — never the
reference's fragile positional concat (main.py:268).
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scip_spark.operators import masking as M
from scip_spark.operators import features as FE
from scip_spark.operators.illumination import correct
from scip_spark.operators.normalization import quantile_normalization
from scip_spark.operators.projection import project
from scip_spark.operators.segmentation import segment_labels, to_events
from scip_spark.operators.threshold_filter import population_filter

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
    """Ownership handle for the DataFrames ``build`` persists.

    The fan-out cache and the population filter's summed relation must
    outlive ``build`` (the caller's terminal action consumes them), so
    they cannot be unpersisted inside the builder; without a handle
    each pipeline build leaks one cached relation per mask branch for
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


#: branch-dependent event columns the fused pass stores once per mask
#: method (suffixed ``<col>__<method>``); everything else — notably the
#: pixel tensor, 25 KB/event — is stored ONCE instead of once per branch.
_BRANCH_COLS = [
    "mask",
    "mask_shape",
    "regions",
    "combined_mask",
    "background",
    "combined_background",
    "bbox",
]


def _build_fused(
    df: DataFrame,
    cfg: dict[str, Any],
    caches: BuildCaches | None,
    methods: list[str],
    mask_cfg: dict[str, Any],
) -> DataFrame:
    """Single-pass multi-branch pipeline (SURVEY §2.3 J6's own 'better
    plan'): ALL mask methods, mask application and the filter/extent
    scalars are computed in ONE mapInPandas over the event stream, and
    all branches' features are emitted side by side from a second single
    pass — eliminating, versus the branch-per-method plan, the upstream
    fan-out cache, one persisted tensor relation and one stats action
    per extra branch, and the J1-replacement keyed join of wide feature
    frames entirely. Reference contrast: SCIP pays the dual branch
    graphs plus a positional concat (src/scip/masking/__init__.py:33-72,
    main.py:268).

    Bit-identity with the branch plan is by construction: every stage
    runs the SAME batch closures (make_mask_batch/make_apply_mask_batch/
    make_filter_sum_batch/make_rescale_batch/make_features_batch), the
    population statistic aggregates the same filter_sum values over the
    same partitioning, and group extents fold the same per-record
    extents (goldens at 3 SFs unchanged; tests/test_pipeline_builder.py
    pins fused == legacy column-for-column)."""
    from pyspark.sql import types as T
    from pyspark.storagelevel import StorageLevel

    from scip_spark.operators import map_events
    from scip_spark.operators.features import (
        feature_columns,
        feature_schema,
        make_features_batch,
    )
    from scip_spark.operators.masking import make_apply_mask_batch, make_mask_batch
    from scip_spark.operators.normalization import group_extents, make_rescale_batch
    from scip_spark.operators.threshold_filter import make_filter_sum_batch
    from scip_spark.queries import PHI_95

    want_filter = "filter" in cfg
    want_norm = "normalization" in cfg
    fe = cfg["feature_extraction"]
    nchannels = fe["nchannels"]
    families = fe.get("families")

    mask_batches = [
        (m, make_mask_batch(m, **mask_cfg.get("kwargs", {}))) for m in methods
    ]
    apply_batch = make_apply_mask_batch()
    fs_batch = (
        make_filter_sum_batch(
            cfg.get("filter", {}).get("channel", 0), with_extents=want_norm
        )
        if (want_filter or want_norm)
        else None
    )
    ext_cols = ["ch_min", "ch_max"] if want_norm else []

    # ---- stage A: every branch's masks + scalars, one pass ----------
    def stage_a(pdf):
        out = pdf.copy()
        last = None
        for m, mb in mask_batches:
            b = mb(pdf)
            b = apply_batch(b)
            if fs_batch is not None:
                b = fs_batch(b)
            for c in _BRANCH_COLS + ext_cols:
                out[f"{c}__{m}"] = b[c].values
            last = b
        if want_filter:
            # filter_sum is a function of the (shared) pixels only —
            # identical across branches, stored once
            out["filter_sum"] = last["filter_sum"].values
        return out

    by_name = {f.name: f for f in df.schema.fields}
    fields = list(df.schema.fields)
    for m in methods:
        for c in _BRANCH_COLS:
            fields.append(T.StructField(f"{c}__{m}", by_name[c].dataType, True))
        for c in ext_cols:
            fields.append(
                T.StructField(f"{c}__{m}", T.ArrayType(T.DoubleType()), True)
            )
    fused = map_events(df, stage_a, T.StructType(fields))

    # one spillable materialization serves the stats action, the extent
    # aggregations and the feature pass (vs. cache + N persists before)
    fused = fused.persist(StorageLevel.MEMORY_AND_DISK)
    if caches is not None:
        caches.add(fused)

    # ---- population filter: ONE stats action (filter_sum is shared) --
    if want_filter:
        row = fused.agg(
            F.avg("filter_sum").alias("mu"),
            F.stddev_pop("filter_sum").alias("sigma"),
        ).collect()[0]
        mu, sigma = row["mu"], row["sigma"]
        if mu is not None:
            keep = F.col("filter_sum") > F.lit(mu - PHI_95 * (sigma or 0.0))
            soft = ["pixels", "pixels_shape"] + [
                f"{c}__{m}"
                for m in methods
                for c in ("mask", "mask_shape", *ext_cols)
            ]
            fused = fused.withColumns({c: F.when(keep, F.col(c)) for c in soft})

    # ---- every branch's group extents: ONE pure-JVM aggregate over the
    # branches' extent columns stacked by method, ONE collect ----------
    if want_norm:
        key = cfg["normalization"].get("key", "group")
        luts: dict[str, dict] = {m: {} for m in methods}
        stacked = fused.select(
            key,
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("method"),
                            F.col(f"ch_min__{m}").alias("ch_min"),
                            F.col(f"ch_max__{m}").alias("ch_max"),
                        )
                        for m in methods
                    ]
                )
            ),
        )
        for r in group_extents(stacked, [key, "method"]).collect():
            luts[r["method"]][(r[key], r["channel"])] = (r["gmin"], r["gmax"])
        rescales = {
            m: make_rescale_batch(luts[m], key=key) for m in methods
        }

    # ---- stage B: normalize + extract EVERY branch's features, one pass
    feats_batch = make_features_batch(nchannels, families)
    fam = families or None
    from scip_spark.operators.features import DEFAULT_FAMILIES

    flat_cols = feature_columns(nchannels, fam or DEFAULT_FAMILIES)
    meta_cols = ["path", "group", "id", "object_number", "regions"]
    view_cols = _BRANCH_COLS + ext_cols

    def stage_b(pdf):
        pieces = []
        for i, m in enumerate(methods):
            view = pdf.copy()
            for c in view_cols:
                view[c] = pdf[f"{c}__{m}"]
            if want_norm:
                view = rescales[m](view)
            fdf = feats_batch(view).reset_index(drop=True)
            if i == 0:
                pieces.append(fdf[meta_cols])
            renamed = fdf[flat_cols].rename(
                columns={c: f"feat_{m}_{c[5:]}" for c in flat_cols}
            )
            pieces.append(renamed)
        return pd.concat(pieces, axis=1)

    meta_fields = [
        f for f in feature_schema(nchannels, fam or DEFAULT_FAMILIES).fields
        if f.name in meta_cols
    ]
    out_fields = list(meta_fields)
    for m in methods:
        out_fields += [
            T.StructField(f"feat_{m}_{c[5:]}", T.DoubleType()) for c in flat_cols
        ]
    return map_events(fused, stage_b, T.StructType(out_fields))


def build(
    df: DataFrame, config: dict[str, Any], caches: BuildCaches | None = None
) -> DataFrame | dict[str, DataFrame]:
    """Compose the stage operators per config. Returns one feature
    DataFrame, or a dict of branch frames when multiple mask methods
    are configured without a join key.

    Config keys mirror the reference's YAML sections::

        {"project": {"op": "max"},
         "illumination_correction": {"key": "group"},
         "segment": {"backend": "watershed", "parent_channel": 0},
         "sample": {"n": 100, "seed": 42},
         "mask": {"methods": ["otsu"], "main_channel": 0},
         "filter": {"channel": 0},
         "normalization": {"key": "group"},
         "feature_extraction": {"nchannels": 3, "families": [...]}}
    """
    cfg = {k: v for k, v in config.items() if v is not None}

    from scip_spark.schema import ensure_event_columns

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

    mask_cfg = cfg.get("mask", {"methods": []})
    # duplicate method names collapse (the legacy branches dict did this
    # implicitly; the fused schema would otherwise carry duplicate
    # suffixed columns and fail with AMBIGUOUS_REFERENCE)
    methods = list(dict.fromkeys(mask_cfg.get("methods", [])))
    if (
        len(methods) > 1
        and "feature_extraction" in cfg
        and mask_cfg.get("fuse", True)
    ):
        # default multi-branch plan: single-pass fusion (no fan-out
        # cache, no per-branch persist, no feature join). Set
        # mask.fuse=False for the legacy branch-and-join plan.
        return _build_fused(df, cfg, caches, methods, mask_cfg)
    if not methods:
        branches = {"raw": df}
    else:
        df = df.cache()  # J6 fan-out: one upstream, N mask branches
        if caches is not None:
            caches.add(df)
        branches = {
            m: M.apply_mask(M.get_mask(df, m, **mask_cfg.get("kwargs", {})))
            for m in methods
        }

    outs: dict[str, DataFrame] = {}
    for name, branch in branches.items():
        b = branch
        if "filter" in cfg:
            fkw = dict(cfg["filter"])
            # when normalization follows, precompute per-record extents
            # in the filter's (already-decoded) pass: group_extents then
            # needs no second tensor decode over the persisted relation
            fkw.setdefault("with_extents", "normalization" in cfg)
            b = population_filter(b, caches=caches, **fkw)
        if "normalization" in cfg:
            b = quantile_normalization(b, **cfg["normalization"])
        if "feature_extraction" in cfg:
            fe = cfg["feature_extraction"]
            b = FE.extract_features(b, fe["nchannels"], fe.get("families"))
            # P9: branch-name prefixing of feature columns
            if len(branches) > 1:
                b = b.select(
                    *[
                        F.col(c).alias(f"feat_{name}_{c[5:]}") if c.startswith("feat_") else F.col(c)
                        for c in b.columns
                    ]
                )
        outs[name] = b

    if len(outs) == 1:
        return next(iter(outs.values()))

    # J1 replacement: keyed join of branch feature frames
    keys = ["path", "group", "id", "object_number"]
    it = iter(outs.items())
    _, joined = next(it)
    for name, b in it:
        drop = [c for c in b.columns if c in joined.columns and c not in keys]
        joined = joined.join(b.drop(*drop), on=keys, how="inner")
    return joined
