"""Config-driven pipeline builder + sinks + multimodal plumbing."""

import os

import numpy as np
import pandas as pd
import pytest

from scip_spark.operators.features import feature_columns
from scip_spark.plans.pipeline import build
from scip_spark.sources.export import (
    export_channel_boundaries,
    export_labeled_masks,
    export_parquet,
    load_correction_images,
    save_correction_images,
)


def test_single_branch_pipeline(full_events_df):
    out = build(
        full_events_df,
        {
            "mask": {"methods": ["circle"]},
            "normalization": {"key": "group"},
            "feature_extraction": {"nchannels": 3, "families": ["bbox", "intensity"]},
        },
    ).toPandas()
    assert len(out) == 10
    cols = feature_columns(3, ["bbox", "intensity"])
    assert not out[cols].isna().any().any()


def test_multi_branch_prefixed_columns(full_events_df):
    """Several mask methods emit every branch's features side by side,
    one row per record — no positional concat (J1). Branch columns get
    the method-name prefix (P9)."""
    out = build(
        full_events_df,
        {
            "mask": {"methods": ["circle", "otsu"]},
            "feature_extraction": {"nchannels": 3, "families": ["intensity"]},
        },
    ).toPandas()
    assert len(out) == 10
    assert any(c.startswith("feat_circle_") for c in out.columns)
    assert any(c.startswith("feat_otsu_") for c in out.columns)


def test_build_without_features_raises(full_events_df):
    with pytest.raises(ValueError, match="feature_extraction"):
        build(full_events_df, {"mask": {"methods": ["circle"]}, "filter": {"channel": 0}})


def test_build_caches_handle_releases_persisted_relations(spark, full_events_df):
    """build() persists the relation the population filter's stats
    action reads; it must outlive build for the caller's action, so a
    BuildCaches handle takes ownership and releases every block
    afterwards — without it each pipeline build leaks a cached relation
    for the session lifetime."""
    from scip_spark.plans.pipeline import BuildCaches

    spark.catalog.clearCache()

    def n_cached_blocks():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    # earlier tests' localCheckpoint blocks are NOT in the relation
    # cache (clearCache can't drop them) and are GC'd at arbitrary
    # times — assert relative to this baseline, not absolute zero
    baseline = n_cached_blocks()
    caches = BuildCaches()
    out = build(
        full_events_df,
        {
            "mask": {"methods": ["circle", "otsu"]},
            "filter": {"channel": 0},
            "feature_extraction": {"nchannels": 3, "families": ["intensity"]},
        },
        caches=caches,
    )
    # ONE persisted relation serves the stats action, the extent aggs
    # and the feature pass, whatever the number of mask methods
    assert len(caches.frames) == 1
    assert len(out.toPandas()) == 10  # terminal action consumes the caches

    assert n_cached_blocks() >= 1
    caches.unpersist(blocking=True)
    assert n_cached_blocks() <= baseline
    assert caches.frames == []


def test_duplicate_mask_methods_collapse(full_events_df):
    """Duplicate method names must collapse (the suffixed branch
    columns would otherwise be duplicated and fail
    AMBIGUOUS_REFERENCE)."""
    out = build(
        full_events_df,
        {
            "mask": {"methods": ["circle", "circle", "otsu"]},
            "filter": {"channel": 0},
            "feature_extraction": {"nchannels": 3, "families": ["bbox"]},
        },
    ).toPandas()
    assert len(out) == 10
    assert any(c.startswith("feat_circle_") for c in out.columns)
    assert any(c.startswith("feat_otsu_") for c in out.columns)
    assert len(set(out.columns)) == len(out.columns)


@pytest.fixture(scope="module")
def varied_events_df(spark):
    """Ten records with distinct seeded pixels in two groups; record 0
    is dim enough for the population filter to soft-delete it."""
    from scip_spark.schema import EVENT_SCHEMA, events_to_pandas

    rng = np.random.default_rng(3)
    events = []
    for i in range(10):
        px = rng.random((3, 10, 10)).astype(np.float32) * (1.0 if i == 0 else 100.0 + 10 * i)
        events.append(
            {
                "path": f"/synthetic/img_{i}.tiff",
                "group": "one" if i < 5 else "two",
                "object_number": i,
                "id": 0,
                "pixels": px,
                "mask": px > px.mean(),
                "regions": [1, 1, 1],
            }
        )
    return spark.createDataFrame(events_to_pandas(events), schema=EVENT_SCHEMA)


@pytest.mark.parametrize(
    "methods", [[], ["circle"], ["circle", "otsu"]], ids=["none", "circle", "circle-otsu"]
)
def test_build_equals_composed_operators(varied_events_df, methods):
    """build's single-pass plan equals the public operators composed by
    hand per mask method (get_mask → apply_mask → population_filter →
    quantile_normalization → extract_features), with several branches
    concatenated on the record key: same batch closures, same
    population statistic, same group extents."""
    from scip_spark.operators.features import extract_features
    from scip_spark.operators.masking import apply_mask, get_mask
    from scip_spark.operators.normalization import quantile_normalization
    from scip_spark.operators.threshold_filter import population_filter

    keys = ["path", "group", "id", "object_number"]
    cfg = {
        "mask": {"methods": methods},
        "filter": {"channel": 0},
        "normalization": {"key": "group"},
        "feature_extraction": {"nchannels": 3, "families": None},
    }
    got = build(varied_events_df, cfg).toPandas()

    want = None
    for m in methods or [None]:
        b = varied_events_df if m is None else apply_mask(get_mask(varied_events_df, m))
        b = population_filter(b, channel=0, persist=False, with_extents=True)
        b = quantile_normalization(b, key="group")
        f = extract_features(b, 3).toPandas()
        if len(methods) > 1:
            f = f.rename(columns={c: f"feat_{m}_{c[5:]}" for c in f.columns if c.startswith("feat_")})
        want = f if want is None else want.merge(f.drop(columns=["regions"]), on=keys)

    def norm(df):
        df = df.assign(regions=df["regions"].map(tuple))
        return df.sort_values(keys).reset_index(drop=True)

    got, want = norm(got), norm(want)
    assert len(got) == 10
    # the filter soft-deleted record 0 and kept the others
    feat = [c for c in got.columns if c.startswith("feat_")]
    assert got.loc[got.object_number == 0, feat].isna().all().all()
    assert got.loc[got.object_number != 0, feat].notna().any(axis=1).all()
    pd.testing.assert_frame_equal(got, want)


def test_fused_equals_unfused_stages_on_tiff_loader(tiff_fixture_meta, tiff_fixture_config):
    """Loader → build over the committed TIFF fixture is frame-identical
    with stage fusion on (decode through masks in one Python worker) and
    off (one mapInPandas per operator): the same batch closures run in
    the same order either way. The fixture has no group column, so
    every event keeps the NULL group illumination correction used (not
    the string 'None')."""
    import scip_spark.operators as OPS
    from scip_spark.plans.pipeline import BuildCaches
    from scip_spark.sources.filescan import attach_pixels
    from scip_spark.sources.tiffio import read_tiff

    def features():
        caches = BuildCaches()
        try:
            px = attach_pixels(tiff_fixture_meta, ["0", "1"], read_tiff)
            out = build(px, tiff_fixture_config, caches=caches).toPandas()
        finally:
            caches.unpersist(blocking=True)
        out["regions"] = out["regions"].map(tuple)
        return out.sort_values(list(out.columns)).reset_index(drop=True)

    fused = features()
    OPS.FUSE_STAGES = False
    try:
        unfused = features()
    finally:
        OPS.FUSE_STAGES = True
    assert len(fused) > 0
    assert fused["group"].isna().all()
    pd.testing.assert_frame_equal(fused, unfused)


def test_duplicate_branch_determinism_via_builder(full_events_df):
    """Two identical mask branches must agree column-for-column (the
    reference's duplicate-branch oracle, test_main.py:52, without
    positional-concat fragility)."""
    from scip_spark.operators.masking import apply_mask, get_mask
    from scip_spark.operators.features import extract_features

    cached = full_events_df.cache()
    a = extract_features(apply_mask(get_mask(cached, "circle")), 3, ["intensity"]).toPandas()
    b = extract_features(apply_mask(get_mask(cached, "circle")), 3, ["intensity"]).toPandas()
    a = a.sort_values("object_number").reset_index(drop=True)
    b = b.sort_values("object_number").reset_index(drop=True)
    cols = feature_columns(3, ["intensity"])
    np.testing.assert_array_equal(a[cols].to_numpy(float), b[cols].to_numpy(float))


def test_sinks(spark, full_events_df, tmp_path):
    from scip_spark.operators.masking import get_mask
    from scip_spark.operators.normalization import group_extents

    # parquet sink roundtrip
    out = str(tmp_path / "pq")
    export_parquet(full_events_df.select("path", "group", "object_number"), out)
    assert spark.read.parquet(out).count() == 10

    # labeled masks
    masked = get_mask(full_events_df, "circle")
    n = export_labeled_masks(masked, str(tmp_path / "masks"), ["group", "object_number"])
    assert n == 10
    arr = np.load(str(tmp_path / "masks" / "one_0.npy"))
    assert arr.shape == (3, 10, 10)

    # channel boundaries csv
    csv = export_channel_boundaries(group_extents(full_events_df), str(tmp_path / "bounds"))
    assert os.path.exists(csv)

    # correction image pickle roundtrip
    mu = {"one": np.ones((3, 4, 4), np.float32)}
    p = save_correction_images(mu, str(tmp_path / "corr"))
    back = load_correction_images(p)
    np.testing.assert_array_equal(back["one"], mu["one"])


def test_multimodal_plumbing(spark):
    import pandas as pd

    from scip_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
        decoder_stub,
        fake_image_decoder,
        frame_sample,
    )

    rows = [
        {
            "media_id": i,
            "kind": "image" if i % 2 else "video",
            "payload": bytes([i]) * 16,
            "mime": "image/png",
            "meta_width": 8,
            "meta_height": 8,
            "meta_duration_s": float(i),
        }
        for i in range(6)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)
    out = decode_features(df, decode=fake_image_decoder, resize=(4, 4)).toPandas()
    assert len(out) == 6
    assert all(list(s) == [4, 4, 3] for s in out.px_shape)
    # deterministic: same payload -> same stats
    out2 = decode_features(df, decode=fake_image_decoder, resize=(4, 4)).toPandas()
    assert list(out.px_mean) == list(out2.px_mean)

    # stub decoder refuses politely
    with pytest.raises(Exception):
        decode_features(df).toPandas()

    frames = frame_sample(df, every_s=1.0).toPandas()
    # media_id=5 (video, 5s) contributes 5 frames; id=0 → 1 frame
    assert len(frames[frames.media_id == 5]) == 5
    assert len(frames[frames.media_id == 0]) == 1


def test_export_anndata_distributed_fake_factory(full_events_df, tmp_path):
    """S11: the anndata sink writes per-partition INSIDE tasks (no
    driver collect). A fake factory — shipped by value via cloudpickle —
    proves the executor-side path runs end-to-end without the optional
    dependency and that every row is written exactly once."""
    import glob
    import json
    import os

    from scip_spark.operators.features import extract_features
    from scip_spark.sources.export import export_anndata

    out_dir = str(tmp_path / "h5ad")

    def fake_factory():
        class FakeAnnData:
            def __init__(self, X, obs):
                self.X = X
                self.obs = obs

            def write(self, path):
                with open(path, "w") as f:
                    json.dump(
                        {"n_obs": len(self.obs), "n_feat": self.X.shape[1]}, f
                    )

        class FakeModule:
            AnnData = FakeAnnData

        return FakeModule

    feats = extract_features(full_events_df, nchannels=3)
    n = export_anndata(feats, out_dir, anndata_factory=fake_factory)
    assert n == 10
    files = sorted(glob.glob(os.path.join(out_dir, "features.*.h5ad")))
    assert files  # at least one non-empty partition wrote a file
    total = 0
    for fp in files:
        with open(fp) as f:
            payload = json.load(f)
        assert payload["n_feat"] > 0
        total += payload["n_obs"]
    assert total == 10


def test_export_anndata_no_driver_collect():
    """Guard: the sink's code path must not fall back to toPandas on the
    driver (the round-1 implementation did, a driver OOM at scale)."""
    import inspect

    from scip_spark.sources import export

    src = inspect.getsource(export.export_anndata)
    assert "toPandas" not in src
    assert "mapInPandas" in src
