"""A2 + F16 + J3: per-group masked min/max extents → broadcast →
min-max rescale.

Reference: src/scip/normalization/quantile_normalization.py:25-107 —
a foldby computing per-group per-channel (masked) min/max, fed back
into a map that rescales pixels to [0, 1]. Spark-first form: a pandas
UDF computes per-record per-channel extents (cheap, columnar); a
relational groupBy min/max aggregates them (partial+final, tiny
shuffle); the resulting extent table is broadcast-joined back.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scip_spark.operators import map_events
from scip_spark.schema import decode_series, encode_series


def record_extents(df: DataFrame, key: str = "group") -> DataFrame:
    """Per-record per-channel masked min/max.

    Reference semantics (quantile_normalization.py:29-44): a record
    with NO mask contributes its full pixels; a record WITH a mask
    contributes masked pixels only, and a channel whose mask is empty
    contributes nothing at all (the fold keeps its running extent)."""
    ext_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField("channel", T.IntegerType()),
            T.StructField("cmin", T.DoubleType()),
            T.StructField("cmax", T.DoubleType()),
        ]
    )

    def batch(pdf: pd.DataFrame):
        pixels = decode_series(pdf["pixels"], pdf["pixels_shape"])
        masks = decode_series(pdf["mask"], pdf["mask_shape"], dtype=bool)
        rows = []
        for g, a, m in zip(pdf[key], pixels, masks):
            if a is None:
                continue
            for c in range(a.shape[0]):
                if m is None:
                    vals = a[c]
                elif m[c].any():
                    vals = a[c][m[c]]
                else:
                    continue  # masked channel with nothing selected: skip
                rows.append((g, c, float(vals.min()), float(vals.max())))
        return pd.DataFrame(rows, columns=[key, "channel", "cmin", "cmax"])

    return map_events(df, batch, ext_schema)


def group_extents(
    df: DataFrame,
    key: str | list[str] = "group",
    cmin_col: str = "ch_min",
    cmax_col: str = "ch_max",
) -> DataFrame:
    """Two-level aggregation: record extents → group extents.

    Fast path: when the frame carries precomputed ``cmin_col``/
    ``cmax_col`` columns (emitted by ``threshold_filter.add_filter_sum
    (..., with_extents=True)`` while the tensors were already decoded —
    the fused multi-branch pipeline stores one suffixed pair per mask
    branch), the record pass is pure Catalyst — posexplode + groupBy,
    no Python, no tensor decode. Null array == record without pixels
    (explode drops it), null element == channel whose mask selects
    nothing (filtered) — exactly ``record_extents``'s skip semantics.
    Only this path takes several grouping columns (``key`` as a list):
    the fused multi-branch pipeline stacks its branches' extents by
    method and aggregates them all at once."""
    keys = [key] if isinstance(key, str) else list(key)
    if cmin_col in df.columns and cmax_col in df.columns:
        rec = (
            df.select(
                *keys,
                F.posexplode(F.arrays_zip(cmin_col, cmax_col)).alias(
                    "channel", "mm"
                ),
            )
            .select(
                *keys,
                "channel",
                F.col(f"mm.{cmin_col}").alias("cmin"),
                F.col(f"mm.{cmax_col}").alias("cmax"),
            )
            .where(F.col("cmin").isNotNull())
        )
    elif len(keys) == 1:
        rec = record_extents(df, keys[0])
    else:
        raise ValueError("several grouping keys need precomputed extent columns")
    return rec.groupBy(*keys, "channel").agg(
        F.min("cmin").alias("gmin"), F.max("cmax").alias("gmax")
    )


def make_rescale_batch(
    lut: dict[tuple, tuple[float, float]],
    key: str = "group",
    drop_cols: tuple[str, ...] = (),
):
    """Batch kernel behind :func:`quantile_normalization`'s rescale map
    (factory form for the fused multi-branch pipeline)."""

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        pixels = decode_series(pdf["pixels"], pdf["pixels_shape"])
        out = []
        for g, a in zip(pdf[key], pixels):
            if a is None:
                out.append(None)
                continue
            scaled = np.empty_like(a, dtype=np.float32)
            for c in range(a.shape[0]):
                gmin, gmax = lut.get((g, c), (0.0, 1.0))
                span = (gmax - gmin) or 1.0
                scaled[c] = np.clip((a[c] - gmin) / span, 0.0, 1.0)
            out.append(scaled)
        flat, shape = encode_series(out)
        pdf = pdf.copy()
        pdf["pixels"] = flat.values
        pdf["pixels_shape"] = shape.values
        # precomputed extents describe PRE-normalization pixels; drop
        # them here (not via .drop(), which would break stage fusion
        # with a projection between this map and the next)
        return pdf.drop(columns=list(drop_cols)) if drop_cols else pdf

    return batch


def quantile_normalization(df: DataFrame, key: str = "group") -> DataFrame:
    """Rescale pixels to [0,1] using broadcast per-group extents."""
    extents = group_extents(df, key).collect()
    lut: dict[tuple, tuple[float, float]] = {
        (r[key], r["channel"]): (r["gmin"], r["gmax"]) for r in extents
    }

    drop_cols = tuple(c for c in ("ch_min", "ch_max") if c in df.columns)
    batch = make_rescale_batch(lut, key, drop_cols)

    if drop_cols:
        out_schema = T.StructType(
            [f for f in df.schema.fields if f.name not in drop_cols]
        )
        return map_events(df, batch, out_schema)
    return map_events(df, batch)
