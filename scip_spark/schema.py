"""Event schema & tensor codec.

The reference streams Python dicts whose keys appear/disappear per
record (reference src/scip/utils/util.py:195-208, masking/__init__.py:91-93).
Here every event is a row of one fixed, nullable ``StructType``:
a key being "absent" is the column being NULL, and the reference's
``@check`` guard (skip op when ``pixels`` missing) becomes plain null
propagation.

Tensors (image ``pixels``, boolean ``mask``) are stored **flattened**
as ``array<float>`` / ``array<boolean>`` next to an ``array<int>``
``shape`` column — exactly the layout the reference itself chose for
its zarr input format (reference docs/source/input.rst:19-28,
src/scip/loading/zarr.py:56-59), because ragged N-D tensors only
round-trip portably as 1-D + shape. Arrow moves these columns
zero-copy into pandas UDFs where :func:`decode_tensor` restores the
ndarray view.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# canonical event schema
# ---------------------------------------------------------------------------

#: Columns every loader produces; stage operators add/null the rest.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), True),
        T.StructField("group", T.StringType(), True),
        T.StructField("scene", T.StringType(), True),
        T.StructField("tile", T.IntegerType(), True),
        T.StructField("zarr_idx", T.IntegerType(), True),
        T.StructField("object_number", T.IntegerType(), True),
        T.StructField("id", T.IntegerType(), True),
        # flattened C×H×W float32 (C×Z×H×W before projection)
        T.StructField("pixels", T.ArrayType(T.FloatType()), True),
        T.StructField("pixels_shape", T.ArrayType(T.IntegerType()), True),
        # flattened C×H×W bool (int32 labels after segmentation)
        T.StructField("mask", T.ArrayType(T.BooleanType()), True),
        T.StructField("mask_shape", T.ArrayType(T.IntegerType()), True),
        T.StructField("combined_mask", T.ArrayType(T.BooleanType()), True),
        T.StructField("mask_filter", T.ArrayType(T.BooleanType()), True),
        T.StructField("background", T.ArrayType(T.DoubleType()), True),
        T.StructField("combined_background", T.ArrayType(T.DoubleType()), True),
        T.StructField("bbox", T.ArrayType(T.IntegerType()), True),
        T.StructField("regions", T.ArrayType(T.IntegerType()), True),
        T.StructField("filter_sum", T.DoubleType(), True),
    ]
)

EVENT_COLUMNS = [f.name for f in EVENT_SCHEMA.fields]


# ---------------------------------------------------------------------------
# tensor codec (numpy <-> flattened list + shape)
# ---------------------------------------------------------------------------

def encode_tensor(arr: np.ndarray) -> tuple[list, list[int]]:
    """ndarray -> (flat list, shape). Inverse of :func:`decode_tensor`."""
    a = np.asarray(arr)
    return a.ravel().tolist(), list(a.shape)


def decode_tensor(flat, shape, dtype=np.float32) -> np.ndarray | None:
    """(flat sequence, shape) -> ndarray view. None-safe (null column)."""
    if flat is None or shape is None:
        return None
    return np.asarray(flat, dtype=dtype).reshape(tuple(int(s) for s in shape))


def decode_series(flat_s: pd.Series, shape_s: pd.Series, dtype=np.float32):
    """Decode a pandas Series pair (as delivered by Arrow) into a list of
    ndarrays (None where the row is null)."""
    out = []
    for flat, shape in zip(flat_s, shape_s):
        if flat is None or shape is None or (isinstance(flat, float) and pd.isna(flat)):
            out.append(None)
        else:
            out.append(np.asarray(flat, dtype=dtype).reshape(tuple(int(s) for s in shape)))
    return out


def encode_series(arrays: Iterable[np.ndarray | None]) -> tuple[pd.Series, pd.Series]:
    """List of ndarrays -> (flat Series, shape Series), None-safe.

    Elements stay ``np.ndarray`` (NOT ``.tolist()``): Arrow converts a
    contiguous primitive ndarray to a list array in one buffer copy,
    ~3× faster than materializing per-element Python objects — the
    difference dominates the tensor pipeline's stage-crossing cost."""
    flats, shapes = [], []
    for a in arrays:
        if a is None:
            flats.append(None)
            shapes.append(None)
        else:
            a = np.asarray(a)
            flats.append(a.ravel())
            shapes.append(list(a.shape))
    return pd.Series(flats, dtype=object), pd.Series(shapes, dtype=object)


# ---------------------------------------------------------------------------
# binary tensor codec — the at-scale variant
# ---------------------------------------------------------------------------
# The array<float> codec above is the interop path (DuckDB oracle,
# plain SQL on tensor columns). For 100 TB pixel pipelines the list
# round-trip (ravel().tolist() → per-element Python objects → Arrow
# list array) dominates; raw little-endian bytes in a BinaryType
# column move through Arrow as one buffer and decode with
# np.frombuffer — no per-element objects in either direction.

def encode_tensor_bin(arr: np.ndarray) -> tuple[bytes, list[int]]:
    a = np.ascontiguousarray(arr)
    return a.tobytes(), list(a.shape)


def decode_tensor_bin(buf, shape, dtype=np.float32) -> np.ndarray | None:
    if buf is None or shape is None:
        return None
    return np.frombuffer(buf, dtype=dtype).reshape(tuple(int(s) for s in shape))


def decode_series_bin(buf_s: pd.Series, shape_s: pd.Series, dtype=np.float32):
    out = []
    for buf, shape in zip(buf_s, shape_s):
        if buf is None or shape is None or (isinstance(buf, float) and pd.isna(buf)):
            out.append(None)
        else:
            out.append(
                np.frombuffer(buf, dtype=dtype).reshape(tuple(int(s) for s in shape))
            )
    return out


def encode_series_bin(arrays: Iterable[np.ndarray | None]) -> tuple[pd.Series, pd.Series]:
    bufs, shapes = [], []
    for a in arrays:
        if a is None:
            bufs.append(None)
            shapes.append(None)
        else:
            a = np.ascontiguousarray(a)
            bufs.append(a.tobytes())
            shapes.append(list(a.shape))
    return pd.Series(bufs, dtype=object), pd.Series(shapes, dtype=object)


def pixels_to_binary(df, col: str = "pixels", dtype=np.float32):
    """array<float> + shape → binary + shape (``<col>_bin``): one
    mapInPandas pass converting the tensor column to the at-scale
    binary layout. The inverse is :func:`pixels_to_array`."""
    from pyspark.sql import functions as F  # noqa: F401

    schema = T.StructType(
        [f for f in df.schema.fields if f.name != col]
        + [T.StructField(f"{col}_bin", T.BinaryType(), True)]
    )

    def conv(it):
        for pdf in it:
            arrays = decode_series(pdf[col], pdf[f"{col}_shape"], dtype=dtype)
            out = pdf.drop(columns=[col])
            out[f"{col}_bin"] = pd.Series(
                [None if a is None else a.tobytes() for a in arrays], dtype=object
            ).values
            yield out

    return df.mapInPandas(conv, schema=schema)


def pixels_to_array(df, col: str = "pixels", dtype=np.float32, spark_type=T.FloatType()):
    """binary + shape (``<col>_bin``) → array<float> + shape: inverse
    of :func:`pixels_to_binary`, for handing binary-layout data back
    to SQL-visible array columns."""
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != f"{col}_bin"]
        + [T.StructField(col, T.ArrayType(spark_type), True)]
    )

    def conv(it):
        for pdf in it:
            out = pdf.drop(columns=[f"{col}_bin"])
            vals = []
            for buf in pdf[f"{col}_bin"]:
                if buf is None or (isinstance(buf, float) and pd.isna(buf)):
                    vals.append(None)
                else:
                    vals.append(np.frombuffer(buf, dtype=dtype).tolist())
            out[col] = pd.Series(vals, dtype=object).values
            yield out

    return df.mapInPandas(conv, schema=schema)


def ensure_event_columns(df):
    """Add any missing EVENT_SCHEMA columns as typed nulls so loader
    outputs (which carry only their own metadata + pixels) can flow
    into the stage operators. Existing columns are left untouched;
    extra loader columns (pivoted channel paths, regex groups) ride
    along.

    On a fusable ``map_events`` output (a pixel loader's) the nulls are
    added as one more fused pandas step: a Catalyst ``withColumn``
    there would end the fusion chain, and the loader's decode would run
    in a Python worker of its own. Schema and values are the same on
    both paths."""
    from pyspark.sql import functions as F

    from scip_spark.operators import fuses, map_events

    existing = set(df.columns)
    missing = [f for f in EVENT_SCHEMA.fields if f.name not in existing]
    if not missing:
        return df
    if fuses(df):
        names = [f.name for f in missing]

        def add_nulls(pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf.assign(**{n: None for n in names})

        return map_events(
            df, add_nulls, T.StructType(list(df.schema.fields) + missing)
        )
    return df.withColumns(
        {f.name: F.lit(None).cast(f.dataType) for f in missing}
    )


def events_to_pandas(records: list[dict]) -> pd.DataFrame:
    """Build a pandas frame matching EVENT_SCHEMA from event dicts whose
    ``pixels``/``mask`` values are ndarrays (test fixture helper)."""
    rows = []
    for rec in records:
        row = {c: None for c in EVENT_COLUMNS}
        for k, v in rec.items():
            if k in ("pixels", "mask"):
                if v is not None:
                    flat, shape = encode_tensor(np.asarray(v))
                    row[k] = flat
                    row[f"{k}_shape"] = shape
            elif k == "combined_mask":
                if v is not None:
                    row[k] = np.asarray(v).ravel().tolist()
            elif k in row or k in EVENT_COLUMNS:
                row[k] = v
        rows.append(row)
    return pd.DataFrame(rows, columns=EVENT_COLUMNS)
