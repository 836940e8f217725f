"""S1-S9: scientific-image sources, Spark-first.

The reference splits loading into (a) a cheap *metadata scan* of a
directory (glob + regex-extract + channel pivot) and (b) a heavy
*pixel attach* (one file read per record) — reference
src/scip/loading/__init__.py:29-57, tiff.py:126-170, zarr.py:52-104,
czi.py:35-102. That split maps exactly onto Spark:

- metadata scan → driver-side listing → ``createDataFrame`` →
  ``regexp_extract`` → ``groupBy(id).pivot(channel)`` → dropna.
  Cheap, relational, cacheable (reference persists it, main.py:147).
- pixel attach → ``mapInPandas`` with a pluggable reader callable
  (Arrow-batched IO). The real decoders (tifffile/PIL/zarr/aicsimageio)
  are not installed in this container, so each format ships a
  clearly-marked stub raising ImportError-derived errors unless a
  reader is injected; the Spark plumbing (schema, batching, union,
  regex-driven schema synthesis) is real and tested with fake readers.
"""

from __future__ import annotations

import glob as _glob
import os
import re
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def regex_meta_fields(regex: str) -> list[str]:
    """Named groups → metadata columns (the reference synthesizes loader
    schema from the regex, zarr.py:73-86)."""
    return list(re.compile(regex).groupindex.keys())


def _java_regex(regex: str) -> str:
    """Python named groups ``(?P<x>…)`` → Java's ``(?<x>…)`` so user
    configs keep the reference's Python-regex convention."""
    return regex.replace("(?P<", "(?<")


# ---------------------------------------------------------------------------
# S3: per-channel tiff layout — one file per (id, channel), pivoted
# ---------------------------------------------------------------------------


def tiff_meta(
    spark: SparkSession,
    path: str,
    regex: str,
    channels: list[str] | None = None,
    pattern: str = "*.tif*",
) -> DataFrame:
    """Metadata scan: glob → regex extract → pivot channel→path →
    drop ids with missing channel files (reference tiff.py:126-158)."""
    files = sorted(_glob.glob(os.path.join(path, "**", pattern), recursive=True))
    listing = spark.createDataFrame(
        pd.DataFrame({"path": files}) if files else pd.DataFrame({"path": pd.Series([], dtype=str)}),
        schema="path string",
    )
    fields = regex_meta_fields(regex)
    for i, name in enumerate(fields, start=1):
        listing = listing.withColumn(name, F.regexp_extract("path", _java_regex(regex), i))
    listing = listing.filter(F.col(fields[0]) != "")
    if channels is None:
        channels = [r[0] for r in listing.select("channel").distinct().orderBy("channel").collect()]
    piv = (
        listing.groupBy([f for f in fields if f != "channel"])
        .pivot("channel", channels)
        .agg(F.min("path"))
    )
    return piv.dropna()  # reference drops records with missing channels


def _attach(
    df: DataFrame,
    cols: list[str],
    read: Callable[..., np.ndarray],
    channels: list[int] | None = None,
) -> DataFrame:
    """The pixel attach every loader shares: ``read(*row[cols])`` per
    record → float32 C×H×W (channel-selected) ``pixels`` +
    ``pixels_shape``, as a ``map_events`` stage so the decode fuses
    with the tensor stages that follow it (one Python worker per task).
    Columns the input already has keep their place; the ndarrays go to
    Arrow through ``encode_series``."""
    from scip_spark.operators import map_events
    from scip_spark.schema import EVENT_SCHEMA, encode_series

    out_schema = T.StructType(
        list(df.schema.fields)
        + [EVENT_SCHEMA[c] for c in ("pixels", "pixels_shape") if c not in df.columns]
    )

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        arrays = []
        for vals in zip(*(pdf[c] for c in cols)):
            a = np.asarray(read(*vals), dtype=np.float32)
            arrays.append(a if channels is None else a[channels])
        flat, shape = encode_series(arrays)
        pdf = pdf.copy()
        pdf["pixels"] = flat.values
        pdf["pixels_shape"] = shape.values
        return pdf

    return map_events(df, batch, out_schema)


def attach_pixels(
    df: DataFrame,
    path_cols: list[str],
    reader: Callable[[str], np.ndarray],
) -> DataFrame:
    """Pixel attach: read one file per channel column, stack C×H×W.
    ``reader(path) -> 2-D ndarray``. Runs as Arrow-batched IO."""
    return _attach(
        df,
        path_cols,
        lambda *paths: np.stack([np.asarray(reader(p), dtype=np.float32) for p in paths]),
    )


def tiff_reader_stub(path: str) -> np.ndarray:
    raise NotImplementedError(
        "tifffile is not installed in this environment; inject a "
        "reader=... callable (tifffile.imread in production)."
    )


def default_tiff_reader() -> Callable[[str], np.ndarray]:
    """The best available real decoder: tifffile when installed, else
    the built-in pure-Python baseline codec (sources/tiffio.py — real
    bytes, both byte orders, multi-frame; none/deflate/packbits/lzw
    compression, horizontal-differencing predictor, strip AND tiled
    layouts since r14). The stub only fires for files the baseline
    codec rejects (JPEG, multi-sample)."""
    try:  # pragma: no cover - tifffile absent in this container
        from tifffile import imread

        return imread
    except ImportError:
        from scip_spark.sources.tiffio import read_tiff

        return read_tiff


def synthetic_reader(path: str) -> np.ndarray:
    """Deterministic stand-in decoder: a 16×16 gradient tile seeded by
    the file name — lets the full pipeline (and CLI) run end-to-end in
    environments without image codecs."""
    import hashlib

    seed = int(hashlib.md5(os.path.basename(path).encode()).hexdigest()[:6], 16)
    base = np.arange(256, dtype=np.float32).reshape(16, 16)
    return base + float(seed % 97)


# ---------------------------------------------------------------------------
# S5: multiframe tiff — frames are channels; group = parent directory
# ---------------------------------------------------------------------------


def multiframe_tiff_meta(spark: SparkSession, path: str, pattern: str = "**/*.tiff") -> DataFrame:
    files = sorted(_glob.glob(os.path.join(path, pattern), recursive=True))
    pdf = pd.DataFrame(
        {
            "path": files,
            "group": [os.path.basename(os.path.dirname(f)) for f in files],
        }
    )
    if not files:
        pdf = pd.DataFrame({"path": pd.Series([], dtype=str), "group": pd.Series([], dtype=str)})
    return spark.createDataFrame(pdf, schema="path string, group string")


# ---------------------------------------------------------------------------
# S6/S7: zarr — ragged flattened arrays + shape attrs
# ---------------------------------------------------------------------------


def zarr_meta(
    spark: SparkSession,
    shapes: list[list[int]],
    path: str,
    regex: str | None = None,
) -> DataFrame:
    """One record per array element. ``shapes`` comes from the store's
    attrs (driver-side read — zarr.py:89-104); pixel fetch happens later
    in a pandas UDF via get_coordinate_selection."""
    pdf = pd.DataFrame(
        {
            "path": [path] * len(shapes),
            "zarr_idx": range(len(shapes)),
            "object_number": range(len(shapes)),
            "pixels_shape": shapes,
        }
    )
    df = spark.createDataFrame(
        pdf, schema="path string, zarr_idx int, object_number int, pixels_shape array<int>"
    )
    if regex:
        for i, name in enumerate(regex_meta_fields(regex), start=1):
            df = df.withColumn(name, F.regexp_extract("path", _java_regex(regex), i))
    return df


def zarr_attach_pixels(
    df: DataFrame, fetch: Callable[[str, int], np.ndarray], channels: list[int] | None = None
) -> DataFrame:
    """``fetch(path, idx) -> flat ndarray``; reshaped via pixels_shape,
    channel-selected (zarr.py:52-61)."""
    return _attach(
        df,
        ["path", "zarr_idx", "pixels_shape"],
        lambda path, idx, shape: np.reshape(fetch(path, int(idx)), [int(s) for s in shape]),
        channels,
    )


# ---------------------------------------------------------------------------
# S8: czi — scenes × mosaic tiles exploded to records
# ---------------------------------------------------------------------------


def czi_meta(
    spark: SparkSession,
    path: str,
    scenes: list[str],
    tiles_per_scene: dict[str, int],
    regex: str | None = None,
) -> DataFrame:
    """Driver-side metadata read → one record per (scene, tile) via
    explode (czi.py:65-93)."""
    pdf = pd.DataFrame(
        {
            "path": [path] * len(scenes),
            "scene": scenes,
            "n_tiles": [tiles_per_scene.get(s, 1) for s in scenes],
        }
    )
    df = spark.createDataFrame(pdf, schema="path string, scene string, n_tiles int")
    if regex:
        df = df.filter(F.col("scene").rlike(regex))
    df = df.select(
        "path", "scene", F.explode(F.sequence(F.lit(0), F.col("n_tiles") - 1)).alias("tile")
    )
    return df


def czi_scene_meta(df: DataFrame, meta_regex: str) -> DataFrame:
    """Reference czi.py:85-87: named groups of ``meta_regex`` matched
    against the SCENE name become metadata columns (the tiff/zarr twins
    extract from the path instead)."""
    for i, name in enumerate(regex_meta_fields(meta_regex), start=1):
        df = df.withColumn(name, F.regexp_extract("scene", _java_regex(meta_regex), i))
    return df


def czi_reader_stub(path: str, scene: str, tile: int) -> np.ndarray:
    raise NotImplementedError(
        "aicsimageio is not installed in this environment; inject a "
        "reader=... callable (AICSImage(path, reconstruct_mosaic=False)"
        ".set_scene(scene); get_image_data('CZXY', T=0) in production), "
        "or use default_czi_reader() for the pure-Python uncompressed-"
        "subblock ZISRAW path (sources/zisraw.py, r15)."
    )


def default_czi_reader():
    """The reader czi_attach_pixels should get by default in a real
    deployment: aicsimageio when installed (full format coverage),
    else the pure-Python ZISRAW parser (sources/zisraw.py — real
    container bytes, uncompressed Gray8/16/32F subblocks; compressed
    subblocks fail fast with the injection hint)."""
    try:  # pragma: no cover - env-dependent
        from aicsimageio import AICSImage  # noqa: F401

        def read(path: str, scene: str, tile: int) -> np.ndarray:
            img = AICSImage(path, reconstruct_mosaic=False)
            img.set_scene(scene)
            # CYX: match the ZISRAW branch's (and czi_attach_pixels's
            # documented) C×H×W contract — CZYX would silently change
            # pixels_shape's meaning per environment (review r15)
            return img.get_image_data("CYX", T=0, Z=0, M=tile)

        return read
    except ImportError:
        from scip_spark.sources.zisraw import fetch_tile

        return fetch_tile


def czi_attach_pixels(
    df: DataFrame,
    reader: Callable[[str, str, int], np.ndarray] | None = None,
    channels: list[int] | None = None,
) -> DataFrame:
    """S9 pixel read (reference czi.py:35-46 ``_load_block``): one
    ``reader(path, scene, tile) -> C×H×W ndarray`` call per (scene,
    tile) record, channel-selected like the reference's
    ``get_image_data(..., C=channels)``. Arrow-batched IO: each task
    opens its own records' scenes, so tile reads parallelize across the
    cluster while the driver never touches pixel data."""
    if reader is None:  # aicsimageio if present, else the ZISRAW parser
        reader = default_czi_reader()
    return _attach(
        df,
        ["path", "scene", "tile"],
        lambda path, scene, tile: reader(path, scene, int(tile)),
        channels,
    )


# ---------------------------------------------------------------------------
# S1/J5: multi-path union
# ---------------------------------------------------------------------------


def load_meta_union(metas: list[DataFrame]) -> DataFrame:
    """Union the per-path metadata frames (loading/__init__.py:36-44);
    cache mirrors the reference's persist (main.py:147)."""
    out = metas[0]
    for m in metas[1:]:
        out = out.unionByName(m, allowMissingColumns=True)
    return out.cache()
