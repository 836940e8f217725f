"""Stage operators: each is ``DataFrame -> DataFrame`` over the event
schema (scip_spark.schema.EVENT_SCHEMA semantics — nullable columns in
place of the reference's appearing/disappearing dict keys).

Heavy per-record tensor work runs in ``mapInPandas`` (Arrow batches);
relational glue (grouping, broadcasting, filtering) stays in Catalyst.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


#: kill-switch for stage fusion (set False to get one mapInPandas node
#: per operator — useful when attributing wall time to single stages)
FUSE_STAGES = True


def map_events(
    df: DataFrame,
    batch_fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """mapInPandas wrapper: apply ``batch_fn`` to each Arrow batch.

    ``schema`` defaults to the input schema (shape-preserving stage).

    Adjacent map stages FUSE: when ``df`` is itself an unpersisted
    ``map_events`` output, the new stage composes with its batch-fn
    chain into a single ``mapInPandas`` over the original source, so a
    k-stage tensor chain (mask → apply → filter-sum, or normalize →
    features) pays ONE JVM↔Python Arrow round trip instead of k. On
    the tensor path each round trip moves the full pixel relation
    (~25 KB/event), so unfused chains are transfer-bound, not
    compute-bound. Spark pipelines the per-operator Python runners
    within a stage but still serializes every intermediate batch
    through Arrow; composing in Python skips those intermediate hops.

    The pixel loaders (``sources.filescan``) are ``map_events`` stages
    too, so the file decode is the FIRST fused stage: decode →
    illumination → segmentation → masks run in one Python worker per
    task. Fusion saves more than the Arrow hops: every ``mapInPandas``
    node is its own Python runner, and each runner pays a fixed setup
    per task (0.1-0.25 s on Python 3.11 with the zipped pyspark and
    py4j on the worker path, most of it ``importlib.invalidate_caches``
    re-reading the zips' central directories). On many small tasks that
    setup, not the tensor math, sets the wall, so fuse a new tensor step
    onto its neighbour rather than add a stage.

    Fusion never crosses a persisted frame (the cache is the point of
    materialization), and any non-map_events transformation
    (withColumn, join, agg) naturally breaks the chain because only
    map_events outputs carry the fusion record. Caveat: persisting an
    INTERMEDIATE map_events output after already stacking further
    map_events stages on it does not retro-insert a cache hit into the
    already-fused downstream plan — persist before composing if you
    want the boundary.

    Dtype contract for fused batch_fns (per round-7 review): a fused
    stage receives the UPSTREAM fn's raw pandas output, NOT the
    Arrow-round-tripped frame an unfused run would hand it — e.g. a
    column the upstream built from Python lists arrives object-dtype
    where Arrow would have coerced it to the declared schema type.
    Every batch_fn must therefore be dtype-agnostic on input: read
    columns via ``np.asarray(..., dtype=...)``/``decode_series`` (as
    the in-repo stages do) rather than relying on a specific pandas
    dtype having been materialized. Only the CHAIN's final output
    crosses Arrow, where the declared ``schema`` is enforced."""
    out_schema = schema if schema is not None else df.schema

    if fuses(df):
        source, fns = df._scip_fuse[0], df._scip_fuse[1] + [batch_fn]
    else:
        source, fns = df, [batch_fn]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf
            for fn in fns:
                if not len(out):
                    break
                out = fn(out)
            if len(out):
                yield out

    result = source.mapInPandas(gen, schema=out_schema)
    result._scip_fuse = (source, fns)
    return result


def fuses(df: DataFrame) -> bool:
    """True when a ``map_events`` stage on ``df`` would compose into
    ``df``'s own ``mapInPandas`` rather than add a new one: ``df`` is an
    unpersisted ``map_events`` output and fusion is on."""
    if not FUSE_STAGES or getattr(df, "_scip_fuse", None) is None:
        return False
    sl = df.storageLevel
    return not (sl.useMemory or sl.useDisk or sl.useOffHeap)
