"""The three workloads: one full execution each, from scan to export,
driven through the engine's public API the way ``scip_spark.cli`` and
``examples/corpus_pipeline.py`` drive it, plus the output summaries the
correctness checks compare.

An execution returns nothing; its output is the exported parquet
directory, which ``summarize`` reads back outside the timed window.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import inputs as I

FAMILIES = ["bbox", "intensity", "raw", "shape", "texture"]

#: imaging_tiff: the fused otsu+li plan of the imaging bench query,
#: all five feature families
TIFF_CONFIG = {
    "illumination_correction": {"key": "group"},
    "segment": {"backend": "watershed", "parent_channel": 0},
    "mask": {"methods": ["otsu", "li"], "main_channel": 0},
    "filter": {"channel": 0},
    "normalization": {"key": "group"},
    "feature_extraction": {"nchannels": I.TIFF_CHANNELS, "families": FAMILIES},
}

#: imaging_fov: the single-mask shape of examples/pipeline.yml plus
#: watershed segmentation (the non-fused single-branch plan)
FOV_CONFIG = {
    "illumination_correction": {"key": "group"},
    "segment": {"backend": "watershed", "parent_channel": 0},
    "mask": {"methods": ["otsu"]},
    "filter": {"channel": 0},
    "normalization": {"key": "group"},
    "feature_extraction": {"nchannels": I.FOV_CHANNELS, "families": FAMILIES},
}

#: one probe per feature family (both mask branches for intensity), as
#: in the imaging bench query's golden rollup; the single-branch plan
#: names its columns without the method prefix
TIFF_PROBES = [
    "feat_otsu_intensity_mean_mask_c0",
    "feat_li_intensity_mean_mask_c0",
    "feat_otsu_shape_area_combined",
    "feat_otsu_shape_eccentricity_combined",
    "feat_otsu_bbox_bbox_maxr",
    "feat_otsu_raw_std_c0",
    "feat_otsu_texture_glcm_mean_contrast_d3_c0",
    "feat_li_texture_combined_sobel_mean_c0",
]
FOV_PROBES = [
    "feat_intensity_mean_mask_c0",
    "feat_shape_area_combined",
    "feat_shape_eccentricity_combined",
    "feat_bbox_bbox_maxr",
    "feat_raw_std_c0",
    "feat_texture_glcm_mean_contrast_d3_c0",
    "feat_texture_combined_sobel_mean_c0",
]

TIFF_CHANNEL_COLS = [str(c) for c in range(I.TIFF_CHANNELS)]

#: shard budget of the packed training split, in characters
PACK_BUDGET = 200_000


# ---------------------------------------------------------------------------
# sources: the loader half of each imaging execution
# ---------------------------------------------------------------------------


def tiff_scan(spark, root: str, tr) -> DataFrame:
    """Metadata scan: glob, regex extract and channel pivot, through
    the same union-and-cache step the CLI applies to every loader."""
    from scip_spark.sources.filescan import load_meta_union, tiff_meta

    with tr.span("sources.tiff_meta"):
        return load_meta_union(
            [tiff_meta(spark, root, I.TIFF_REGEX, channels=TIFF_CHANNEL_COLS, pattern="*.tiff")]
        )


def tiff_attach(meta: DataFrame, tr) -> DataFrame:
    """Pixel attach with the engine's pure-Python TIFF decoder."""
    from scip_spark.sources.filescan import attach_pixels
    from scip_spark.sources.tiffio import read_tiff

    with tr.span("sources.attach_pixels"):
        return attach_pixels(meta, TIFF_CHANNEL_COLS, read_tiff)


def fov_scan(spark, root: str, tr) -> DataFrame:
    """One zarr_meta per well store (shapes read from the store attrs on
    the driver), unioned."""
    from scip_spark.sources.filescan import load_meta_union, zarr_meta
    from scip_spark.sources.zarrio import group_member_shapes

    with tr.span("sources.zarr_meta"):
        metas = []
        for w in range(I.FOV_WELLS):
            store = I.fov_store(root, w)
            metas.append(zarr_meta(spark, group_member_shapes(store), store, I.FOV_REGEX))
        return load_meta_union(metas)


def fov_attach(meta: DataFrame, tr) -> DataFrame:
    """Per-member chunk fetch and Blosc-LZ4 decode."""
    from scip_spark.sources.filescan import zarr_attach_pixels
    from scip_spark.sources.zarrio import fetch_member

    with tr.span("sources.zarr_attach_pixels"):
        return zarr_attach_pixels(meta, fetch_member)


# ---------------------------------------------------------------------------
# executions
# ---------------------------------------------------------------------------


def _imaging(spark, scan, attach, config, root: str, out: str, tr) -> None:
    from scip_spark.plans.pipeline import BuildCaches, build
    from scip_spark.sources.export import export_parquet

    caches = BuildCaches()
    try:
        df = attach(scan(spark, root, tr), tr)
        with tr.span("plans.build"):
            feats = build(df, config, caches=caches)
        with tr.span("sources.export_parquet"):
            export_parquet(feats, out)
    finally:
        caches.unpersist(blocking=True)
        # the metadata cache load_meta_union took: no execution may
        # leave storage behind for the next one
        spark.catalog.clearCache()


def run_tiff(spark, root: str, out: str, tr) -> None:
    _imaging(spark, tiff_scan, tiff_attach, TIFF_CONFIG, root, out, tr)


def run_fov(spark, root: str, out: str, tr) -> None:
    _imaging(spark, fov_scan, fov_attach, FOV_CONFIG, root, out, tr)


def curation_stages(spark, root: str, tr) -> dict:
    """The first half of examples/corpus_pipeline.py, without its
    progress counts: quality floor and language gate, fingerprint exact
    dedup, LSH candidate pairs. Returns the frames by name, so the traced
    run can time prefixes of the chain; ``curation_cluster`` and
    ``curation_pack`` continue it."""
    from pyspark.sql.window import Window

    from scip_spark.functions.dedup import lsh_candidate_pairs
    from scip_spark.functions.text import fingerprint, lang_id, tokens

    st: dict = {}
    with tr.span("functions.text"):
        docs = spark.read.parquet(root)
        kept = docs.select(
            "*", F.size(tokens("text")).alias("n_tokens"), lang_id("text").alias("pred_lang")
        ).filter((F.col("n_tokens") >= 10) & (F.col("pred_lang") != "unknown"))
        st["exact"] = (
            kept.withColumn("fp", fingerprint("text"))
            .withColumn("rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
    with tr.span("functions.dedup.lsh_candidate_pairs"):
        st["pairs"] = lsh_candidate_pairs(st["exact"])
    return st


def curation_cluster(st: dict, tr) -> dict:
    """Connected components over the candidate pairs (the engine runs
    its label-propagation loop eagerly, inside this call), then drop
    every document that is not its cluster's minimum."""
    from scip_spark.functions.dedup import connected_components

    with tr.span("functions.dedup.connected_components"):
        st["clusters"] = connected_components(st["pairs"])
    drop = st["clusters"].filter(F.col("node_id") != F.col("component")).select(
        F.col("node_id").alias("doc_id")
    )
    st["final"] = st["exact"].join(drop, "doc_id", "left_anti")
    return st


def curation_pack(st: dict, tr) -> DataFrame:
    """Stable split assignment, shard packing of the train split, and the
    holdout splits with shard -1: the table the export writes."""
    from scip_spark.functions.corpus import pack_shards, split_assign

    with tr.span("functions.corpus.pack"):
        assigned = split_assign(st["final"])
        packed = pack_shards(assigned.filter(F.col("split") == "train"), budget=PACK_BUDGET)
        holdout = assigned.filter(F.col("split") != "train").withColumn(
            "shard_id", F.lit(-1).cast("long")
        )
        return packed.unionByName(holdout).drop("n_tokens")


def run_curation(spark, root: str, out: str, tr) -> None:
    from scip_spark.sources.export import export_parquet

    st = curation_stages(spark, root, tr)
    try:
        curation_cluster(st, tr)
        table = curation_pack(st, tr)
        with tr.span("sources.export_parquet"):
            export_parquet(table, out, partition_by=["split"])
    finally:
        spark.catalog.clearCache()  # the component labels CC left cached


# ---------------------------------------------------------------------------
# output summaries (read back from the export, outside the timed window)
# ---------------------------------------------------------------------------


def feature_rollup(feats: DataFrame, probes: list[str]) -> list[dict]:
    """One row per acquisition group: object and kept counts plus
    grid-quantized feature sums. floor(x * 2^20) is exact and the sum of
    longs is order-independent, so the rollup is bit-reproducible."""
    missing = [c for c in probes if c not in feats.columns]
    if missing:
        raise ValueError(f"probe columns missing from the feature table: {missing}")
    aggs = [F.count("*").alias("n_objects"), F.count(F.col(probes[0])).alias("n_kept")]
    aggs += [
        F.sum(F.floor(F.col(c) * F.lit(float(2**20))).cast("long")).alias(f"sum_{c[5:]}")
        for c in probes
    ]
    rows = feats.groupBy("group").agg(*aggs).orderBy("group").collect()
    return [r.asDict() for r in rows]


def summarize_imaging(spark, out: str, probes: list[str]) -> dict:
    rollup = feature_rollup(spark.read.parquet(out), probes)
    return {
        "cells": sum(r["n_objects"] for r in rollup),
        "kept": sum(r["n_kept"] for r in rollup),
        "rollup": rollup,
    }


def summarize_curation(spark, out: str) -> dict:
    rows = spark.read.parquet(out).select("doc_id", "split", "shard_id").collect()
    ids = sorted(r["doc_id"] for r in rows)
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + 1
    return {
        "survivors": len(ids),
        "survivor_sha256": hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest(),
        "by_split": dict(sorted(by_split.items())),
        "train_shards": len({r["shard_id"] for r in rows if r["split"] == "train"}),
    }


# ---------------------------------------------------------------------------
# checks that hold at every seed: decoded sample records must equal the
# arrays the generator wrote, and the outputs must agree with what the
# generator planted
# ---------------------------------------------------------------------------

#: exported cells per generated blob (imaging_tiff) or per placed cell
#: (imaging_fov), overall and per acquisition group: watershed splits
#: some blobs and merges touching ones. Over 46 seeds of imaging_tiff the
#: overall ratio read 1.17-1.78 and the per-group one 0.86-2.40.
TIFF_CELL_RATIO = (1.0, 2.2)
TIFF_GROUP_CELL_RATIO = (0.5, 3.0)
FOV_CELL_RATIO = (0.8, 1.5)

#: LSH is probabilistic, so these two are shares, not exact counts:
#: families with near-duplicate copies that must end with one survivor
#: (0.913-0.960 over seeds 0-12; about 0 with no near-duplicate
#: removal), and families of gate-passing documents that must keep one
#: (0.998-1.000 over the same seeds)
NEAR_COLLAPSED_MIN = 0.8
GOOD_KEPT_MIN = 0.98


def _sample_indices(n: int, seed: int, k: int = 3) -> list[int]:
    rng = np.random.default_rng([seed, 99])
    return sorted(int(i) for i in rng.choice(n, size=k, replace=False))


def check_tiff_pixels(spark, root: str, seed: int) -> list[str]:
    from scip_spark.sources.filescan import attach_pixels, tiff_meta
    from scip_spark.sources.tiffio import read_tiff

    idx = _sample_indices(I.TIFF_EVENTS, seed)
    recs = [f"ev{i:05d}" for i in idx]
    meta = tiff_meta(spark, root, I.TIFF_REGEX, channels=TIFF_CHANNEL_COLS, pattern="*.tiff")
    rows = {
        r["rec"]: r
        for r in attach_pixels(meta.filter(F.col("rec").isin(recs)), TIFF_CHANNEL_COLS, read_tiff)
        .select("rec", "group", "pixels", "pixels_shape")
        .collect()
    }
    errors = []
    for i, rec in zip(idx, recs):
        want = I.tiff_event(seed, i).astype(np.float32)
        row = rows.get(rec)
        if row is None:
            errors.append(f"{rec}: not loaded")
            continue
        got = np.asarray(row["pixels"], dtype=np.float32).reshape(row["pixels_shape"])
        if row["group"] != f"g{i % I.TIFF_GROUPS}" or not np.array_equal(got, want):
            errors.append(f"{rec}: decoded pixels differ from the generated event")
    return errors


def check_fov_pixels(spark, root: str, seed: int) -> list[str]:
    from scip_spark.sources.filescan import zarr_attach_pixels, zarr_meta
    from scip_spark.sources.zarrio import fetch_member, group_member_shapes

    errors = []
    for i in _sample_indices(I.FOV_FRAMES, seed):
        well = i % I.FOV_WELLS
        member = I.fov_members(well).index(i)
        store = I.fov_store(root, well)
        meta = zarr_meta(spark, group_member_shapes(store), store, I.FOV_REGEX)
        rows = (
            zarr_attach_pixels(meta.filter(F.col("zarr_idx") == member), fetch_member)
            .select("pixels", "pixels_shape")
            .collect()
        )
        want = I.fov_frame(seed, i).astype(np.float32)
        if len(rows) != 1:
            errors.append(f"fov {i}: {len(rows)} records loaded")
            continue
        got = np.asarray(rows[0]["pixels"], dtype=np.float32).reshape(rows[0]["pixels_shape"])
        if not np.array_equal(got, want):
            errors.append(f"fov {i}: decoded pixels differ from the generated frame")
    return errors


def _check_ratio(what: str, got: int, planted: int, bounds: tuple[float, float]) -> list[str]:
    lo, hi = bounds
    if planted and lo <= got / planted <= hi:
        return []
    return [f"{what}: {got} cells for {planted} planted, outside {lo}-{hi} per planted"]


def check_cells(summary: dict, planted_by_group: dict[str, int], overall, per_group) -> list[str]:
    """The exported cell counts must be plausible for what was planted,
    every group must be present, and no more cells kept than exported."""
    errors = _check_ratio("all groups", summary["cells"], sum(planted_by_group.values()), overall)
    got = {r["group"]: r["n_objects"] for r in summary["rollup"]}
    if set(got) != set(planted_by_group):
        errors.append(f"groups {sorted(got)} exported, {sorted(planted_by_group)} generated")
    elif per_group is not None:
        for g, n in planted_by_group.items():
            errors += _check_ratio(f"group {g}", got[g], n, per_group)
    if summary["kept"] > summary["cells"]:
        errors.append(f"{summary['kept']} cells kept of {summary['cells']}")
    return errors


def check_tiff(spark, root: str, out: str, seed: int, summary: dict) -> list[str]:
    planted = Counter()
    for i in range(I.TIFF_EVENTS):
        planted[f"g{i % I.TIFF_GROUPS}"] += I.tiff_blobs(seed, i)
    return check_tiff_pixels(spark, root, seed) + check_cells(
        summary, dict(planted), TIFF_CELL_RATIO, TIFF_GROUP_CELL_RATIO
    )


def check_fov(spark, root: str, out: str, seed: int, summary: dict) -> list[str]:
    planted = {"plate0": I.FOV_FRAMES * I.FOV_CELLS}
    return check_fov_pixels(spark, root, seed) + check_cells(summary, planted, FOV_CELL_RATIO, None)


def check_curation(spark, root: str, out: str, seed: int, summary: dict) -> list[str]:
    """The survivors against the generator's families (a base document
    and its planted copies): no document that fails the quality floor or
    the language gate survives, an exact copy and its base never both
    survive, near-duplicate families mostly collapse to one survivor,
    and gate-passing families mostly keep one."""
    fams = I.doc_families(seed)
    ids = [r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()]
    errors = []
    if len(ids) != len(set(ids)):
        errors.append(f"{len(ids) - len(set(ids))} doc_ids exported twice")
    foreign = [i for i in ids if not 0 <= i < len(fams)]
    if foreign:
        errors.append(f"{len(foreign)} exported doc_ids are not input documents, e.g. {foreign[0]}")
    ids = sorted(set(ids) - set(foreign))
    gated = [i for i in ids if fams[i][2] != "good"]
    if gated:
        errors.append(f"{len(gated)} survivors fail the quality floor or language gate, e.g. doc {gated[0]}")
    per_family = Counter(fams[i][0] for i in ids)
    exact = {f for f, role, _ in fams if role == "exact"}
    twice = sorted(f for f in exact if per_family[f] > 1)
    if twice:
        errors.append(f"{len(twice)} exact copies survive beside their base, e.g. family {twice[0]}")
    near = {f for f, role, q in fams if role == "near" and q == "good"}
    collapsed = sum(per_family[f] == 1 for f in near) / max(len(near), 1)
    if collapsed < NEAR_COLLAPSED_MIN:
        errors.append(f"only {collapsed:.3f} of near-duplicate families collapse to one survivor")
    good = {f for f, role, q in fams if role == "base" and q == "good"}
    kept = sum(per_family[f] >= 1 for f in good) / max(len(good), 1)
    if kept < GOOD_KEPT_MIN:
        errors.append(f"only {kept:.3f} of gate-passing families keep a survivor")
    return errors


def check(wl, spark, root: str, out: str, seed: int, summaries: list[dict]) -> list[str]:
    """Every execution's output summary must equal the first one's, the
    last export must pass the workload's seed-independent checks, and at
    the default seed the summary must equal the committed expected
    values. Returns the failures found."""
    errors = []
    for i, s in enumerate(summaries[1:], start=1):
        if s != summaries[0]:
            errors.append(f"execution {i} output differs from execution 0")
    if summaries:
        errors += wl.check_output(spark, root, out, seed, summaries[-1])
    if seed == I.DEFAULT_SEED and summaries:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as f:
            expected = json.load(f).get(wl.name)
        if summaries[0] != expected:
            errors.append(f"output differs from perfbench/expected.json: {json.dumps(summaries[0])}")
    return errors


# ---------------------------------------------------------------------------


class Workload:
    def __init__(self, name, run, summarize, check_output):
        self.name = name
        self.run = run
        self.summarize = summarize
        self.check_output = check_output


WORKLOADS = {
    "imaging_tiff": Workload(
        "imaging_tiff",
        run_tiff,
        lambda spark, out: summarize_imaging(spark, out, TIFF_PROBES),
        check_tiff,
    ),
    "imaging_fov": Workload(
        "imaging_fov",
        run_fov,
        lambda spark, out: summarize_imaging(spark, out, FOV_PROBES),
        check_fov,
    ),
    "curation_dedup": Workload(
        "curation_dedup",
        run_curation,
        summarize_curation,
        check_curation,
    ),
}
