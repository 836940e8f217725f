"""The traced run: per-layer numbers for one workload.

After the cold execution it makes one untraced and one traced warm
execution (their difference is the tracing overhead), reads the Spark
status store around the traced one, then times cumulative plan
prefixes with a noop sink (the method of tools/profile_imaging.py): the
difference between consecutive prefixes is one layer's marginal cost.
Kernels and the tensor codec are timed in-process on fixed inputs,
without Spark. Metrics that do not apply to a workload read 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs as I
from perfbench import workloads as W
from perfbench.observe import NullTracer, Sampler, SparkStatus, Tracer

#: token-set Jaccard at or above which an LSH candidate pair counts as a
#: true near duplicate (the 4-band x 2-row S-curve midpoint is 0.5)
JACCARD_THRESHOLD = 0.5

#: records in the tensor-codec batch (the session's Arrow batch bound)
CODEC_BATCH = 512

UNITS = {
    "session.start_s": "s",
    "session.cold_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.scan_s": "s",
    "sources.decode_s": "s",
    "sources.decode_mb": "MB",
    "sources.export_s": "s",
    "sources.export_mb": "MB",
    "schema.decode_series_ms": "ms",
    "schema.encode_series_ms": "ms",
    "operators.illumination_s": "s",
    "operators.segmentation_s": "s",
    "operators.mask_to_features_s": "s",
    "operators.cells_out": "count",
    "operators.filter_kept_frac": "ratio",
    "operators.features_batch_ms": "ms",
    "kernels.threshold_otsu_ms": "ms",
    "kernels.distance_transform_batch_ms": "ms",
    "kernels.watershed_ms": "ms",
    "kernels.label_ms": "ms",
    "plans.build_call_s": "s",
    "functions.text_exact_s": "s",
    "functions.dedup.lsh_s": "s",
    "functions.dedup.candidate_pairs": "count",
    "functions.dedup.candidate_precision": "ratio",
    "functions.dedup.cc_s": "s",
    "functions.dedup.cc_rounds": "count",
    "functions.corpus.pack_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.python_share": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.storage_peak_mb": "MB",
    "spark.task_failures": "count",
    "trace.overhead_s": "s",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    ) / 1e6


def _per_call_ms(fn, budget_s: float = 0.3, reps: int = 5) -> float:
    """Median over ``reps`` of the mean wall of ``fn()`` in a loop that
    runs about ``budget_s / reps`` seconds."""
    t0 = time.perf_counter()
    fn()
    once = max(time.perf_counter() - t0, 1e-6)
    n = max(1, int(budget_s / reps / once))
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        samples.append((time.perf_counter() - t0) / n * 1e3)
    return statistics.median(samples)


# ---------------------------------------------------------------------------
# prefixes: cumulative plans, each ending in a noop sink
# ---------------------------------------------------------------------------


def _timed(spark, tracer, name: str, make) -> float:
    """Build a prefix plan (eager engine actions included) and sink it."""
    spark.catalog.clearCache()
    with tracer.span(f"prefix.{name}"):
        t0 = time.perf_counter()
        _noop(make())
        wall = time.perf_counter() - t0
    spark.catalog.clearCache()
    return wall


def imaging_prefixes(wl_name: str, spark, root: str, tracer) -> dict:
    from scip_spark.operators.illumination import correct
    from scip_spark.operators.segmentation import segment_labels, to_events
    from scip_spark.plans.pipeline import BuildCaches, build
    from scip_spark.schema import ensure_event_columns

    scan, attach, config = {
        "imaging_tiff": (W.tiff_scan, W.tiff_attach, W.TIFF_CONFIG),
        "imaging_fov": (W.fov_scan, W.fov_attach, W.FOV_CONFIG),
    }[wl_name]
    tr = NullTracer()

    def source():
        return attach(scan(spark, root, tr), tr)

    def illuminated():
        return correct(ensure_event_columns(source()), **config["illumination_correction"])

    def segmented():
        seg = config["segment"]
        return to_events(segment_labels(illuminated(), **seg), parent_channel=seg["parent_channel"])

    caches = BuildCaches()

    def full():
        return build(source(), config, caches=caches)

    t = {
        "scan": _timed(spark, tracer, "scan", lambda: scan(spark, root, tr)),
        "decode": _timed(spark, tracer, "decode", source),
        "illumination": _timed(spark, tracer, "illumination", illuminated),
        "segmentation": _timed(spark, tracer, "segmentation", segmented),
    }
    try:
        t["full"] = _timed(spark, tracer, "full", full)
    finally:
        caches.unpersist(blocking=True)
    # the decoded pixels column the decode prefix materialises, as Arrow
    decoded = source().select("pixels").toArrow()
    spark.catalog.clearCache()
    return {
        "sources.decode_mb": decoded.nbytes / 1e6,
        "sources.scan_s": t["scan"],
        "sources.decode_s": t["decode"] - t["scan"],
        "operators.illumination_s": t["illumination"] - t["decode"],
        "operators.segmentation_s": t["segmentation"] - t["illumination"],
        "operators.mask_to_features_s": t["full"] - t["segmentation"],
        "_full": t["full"],
    }


def curation_prefixes(spark, root: str, tracer, status: SparkStatus) -> dict:
    tr = NullTracer()
    t: dict[str, float] = {}
    t["text"] = _timed(spark, tracer, "text_exact", lambda: W.curation_stages(spark, root, tr)["exact"])
    t["lsh"] = _timed(spark, tracer, "lsh", lambda: W.curation_stages(spark, root, tr)["pairs"])

    rounds = {}

    def clustered():
        st = W.curation_stages(spark, root, tr)
        before = status.sql_executions()
        W.curation_cluster(st, tr)
        # Dataset actions the label-propagation loop issued: one
        # convergence check per round plus its lineage checkpoints
        rounds["n"] = status.sql_executions() - before
        return st["final"]

    t["cc"] = _timed(spark, tracer, "cc", clustered)
    t["pack"] = _timed(
        spark, tracer, "pack",
        lambda: W.curation_pack(W.curation_cluster(W.curation_stages(spark, root, tr), tr), tr),
    )

    from scip_spark.functions.dedup import jaccard_pairs

    st = W.curation_stages(spark, root, tr)
    pairs = st["pairs"].cache()
    n_pairs = pairs.count()
    n_true = (
        jaccard_pairs(st["exact"], pairs).filter(F.col("jaccard") >= JACCARD_THRESHOLD).count()
    )
    spark.catalog.clearCache()
    return {
        "functions.text_exact_s": t["text"],
        "functions.dedup.lsh_s": t["lsh"] - t["text"],
        "functions.dedup.cc_s": t["cc"] - t["lsh"],
        "functions.corpus.pack_s": t["pack"] - t["cc"],
        "functions.dedup.candidate_pairs": n_pairs,
        "functions.dedup.candidate_precision": n_true / n_pairs if n_pairs else 0.0,
        "functions.dedup.cc_rounds": rounds["n"],
        "_full": t["pack"],
    }


# ---------------------------------------------------------------------------
# in-process micro timings on fixed inputs (no Spark)
# ---------------------------------------------------------------------------


def _fixed_events(n: int = 64) -> list[np.ndarray]:
    return [I.tiff_event(12345, i).astype(np.float32) for i in range(n)]


def kernel_timings() -> dict:
    from scip_spark.kernels import imageops as K
    from scip_spark.operators.features import make_features_batch

    fov = I.fov_frame(12345, 0).astype(np.float32)[0]
    fov_fg = K.fill_holes(fov > K.threshold_otsu(fov))
    fov_dist = K.distance_transform_batch([fov_fg])[0]
    markers, _ = K.local_maxima_markers(fov_dist, min_distance=3)
    events = _fixed_events()
    ev_fgs = [K.fill_holes(e[0] > K.threshold_otsu(e[0])) for e in events]

    # 64 single-cell records shaped like to_events output: the event's
    # foreground on every channel, full-frame bbox
    masks = [np.broadcast_to(fg, e.shape).copy() for e, fg in zip(events, ev_fgs)]
    pdf = pd.DataFrame({
        "path": [f"ev{i}" for i in range(len(events))],
        "group": [f"g{i % 4}" for i in range(len(events))],
        "id": [1] * len(events),
        "object_number": list(range(len(events))),
        "regions": [[1] * I.TIFF_CHANNELS] * len(events),
        "pixels": [e.ravel() for e in events],
        "pixels_shape": [list(e.shape) for e in events],
        "mask": [m.ravel() for m in masks],
        "mask_shape": [list(m.shape) for m in masks],
        "combined_mask": [fg.ravel() for fg in ev_fgs],
        "background": [[0.0] * I.TIFF_CHANNELS] * len(events),
        "combined_background": [[0.0] * I.TIFF_CHANNELS] * len(events),
        "bbox": [[0, 0, I.TIFF_SIDE, I.TIFF_SIDE]] * len(events),
    })
    features = make_features_batch(I.TIFF_CHANNELS, W.FAMILIES)
    return {
        "kernels.threshold_otsu_ms": _per_call_ms(lambda: K.threshold_otsu(fov)),
        "kernels.distance_transform_batch_ms": _per_call_ms(lambda: K.distance_transform_batch(ev_fgs)),
        "kernels.watershed_ms": _per_call_ms(lambda: K.watershed(-fov_dist, markers, mask=fov_fg)),
        "kernels.label_ms": _per_call_ms(lambda: K.label(fov_fg, 2)),
        "operators.features_batch_ms": _per_call_ms(lambda: features(pdf)),
    }


def codec_timings(shape: tuple[int, ...]) -> dict:
    """decode_series / encode_series on one Arrow-batch-sized frame of
    the workload's tensor shape, as the Python worker receives it."""
    from scip_spark.schema import decode_series, encode_series

    rng = np.random.default_rng(0)
    arrays = [rng.random(shape, dtype=np.float32) for _ in range(CODEC_BATCH)]
    flat_s = pd.Series([a.ravel() for a in arrays], dtype=object)
    shape_s = pd.Series([list(shape)] * CODEC_BATCH, dtype=object)
    return {
        "schema.decode_series_ms": _per_call_ms(lambda: decode_series(flat_s, shape_s)),
        "schema.encode_series_ms": _per_call_ms(lambda: encode_series(arrays)),
    }


# ---------------------------------------------------------------------------


def traced_run(
    wl, spark, root: str, out: str, outcome, setup_s: float, cold_s: float | None,
    rss: Sampler, seed: int, work: str,
) -> dict:
    """Every per-layer metric of one workload, as {name: {value, unit}}."""
    tracer = Tracer()
    status = SparkStatus(spark)
    m: dict[str, float] = {k: 0.0 for k in UNITS}
    m["session.start_s"] = setup_s
    m["session.cold_s"] = cold_s or 0.0

    wall_u = outcome.execute(wl, spark, root, out, NullTracer())
    if wall_u is None:
        raise RuntimeError("the untraced warm execution failed")
    outcome.summarize(wl, spark, out)

    before = status.snapshot()
    with Sampler({"storage": status.storage_bytes}, interval=0.2) as storage:
        with tracer.span("execution"):
            wall_t = outcome.execute(wl, spark, root, out, tracer)
    if wall_t is None:
        raise RuntimeError("the traced warm execution failed")
    delta = status.delta(before, status.snapshot())
    outcome.summarize(wl, spark, out)
    for k, v in delta.items():
        m[f"spark.{k}"] = v
    m["spark.storage_peak_mb"] = storage.peak["storage"] / 1e6
    m["trace.overhead_s"] = wall_t - wall_u
    spans = [s for s in tracer.spans if s["name"] == "plans.build"]
    m["plans.build_call_s"] = sum(s["end"] - s["start"] for s in spans)
    m["sources.export_mb"] = _dir_mb(out)

    summary = outcome.summaries[-1]
    if wl.name == "curation_dedup":
        layer = curation_prefixes(spark, root, tracer, status)
    else:
        layer = imaging_prefixes(wl.name, spark, root, tracer)
        shape = {
            "imaging_tiff": (I.TIFF_CHANNELS, I.TIFF_SIDE, I.TIFF_SIDE),
            "imaging_fov": (I.FOV_CHANNELS, I.FOV_SIDE, I.FOV_SIDE),
        }[wl.name]
        m["operators.cells_out"] = summary["cells"]
        m["operators.filter_kept_frac"] = summary["kept"] / summary["cells"] if summary["cells"] else 0.0
        with tracer.span("micro.codec"):
            m.update(codec_timings(shape))
        with tracer.span("micro.kernels"):
            m.update(kernel_timings())
    m["sources.export_s"] = wall_u - layer.pop("_full")
    m.update(layer)

    rss.sample()
    m["session.peak_rss_mb"] = rss.peak["rss"] / 1e6

    trace_dir = os.path.join(work, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{wl.name}-seed{seed}-{tracer.run_id}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "metrics": m}, f, indent=1)
    return {k: {"value": float(m[k]), "unit": UNITS[k]} for k in UNITS}
