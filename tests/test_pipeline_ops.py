"""Projection, illumination correction, population filter, segmentation."""

import numpy as np
import pandas as pd
import pytest

from scip_spark.operators.illumination import correct, mean_images
from scip_spark.operators.projection import project
from scip_spark.operators.segmentation import segment_labels, to_events
from scip_spark.operators.threshold_filter import population_filter
from scip_spark.schema import EVENT_SCHEMA, decode_tensor, ensure_event_columns, events_to_pandas


def test_projection(spark):
    zstack = np.arange(2 * 4 * 5 * 5, dtype=np.float32).reshape(2, 4, 5, 5)
    pdf = events_to_pandas([{"path": "z", "group": "g", "pixels": zstack}])
    df = spark.createDataFrame(pdf, schema=EVENT_SCHEMA)
    out = project(df, "max").toPandas()
    a = decode_tensor(out.iloc[0].pixels, out.iloc[0].pixels_shape)
    np.testing.assert_array_equal(a, zstack.max(axis=1))
    out2 = project(df, "mean").toPandas()
    b = decode_tensor(out2.iloc[0].pixels, out2.iloc[0].pixels_shape)
    np.testing.assert_allclose(b, zstack.mean(axis=1), rtol=1e-6)


def test_projection_bad_op(full_events_df):
    with pytest.raises(ValueError):
        project(full_events_df, "nope")


def test_illumination_correction(full_events_df):
    mu = mean_images(full_events_df, "group")
    assert set(mu) == {"one", "two"}
    assert mu["one"].shape == (3, 10, 10)
    assert (mu["one"] != 0).all()  # zero-guard applied
    out = correct(full_events_df, "group").toPandas()
    assert len(out) == 10
    for _, r in out.iterrows():
        a = decode_tensor(r.pixels, r.pixels_shape)
        assert not np.isnan(a).any()
        # identical images / mean ≈ 1 in the interior
        assert abs(np.median(a) - 1.0) < 0.2


def test_population_filter_soft_delete(spark):
    # 9 bright records + 1 dark outlier → outlier soft-deleted
    recs = []
    for i in range(10):
        level = 0.01 if i == 0 else 100.0
        recs.append(
            {
                "path": f"p{i}",
                "group": "g",
                "object_number": i,
                "pixels": np.full((1, 4, 4), level, dtype=np.float32),
            }
        )
    df = spark.createDataFrame(events_to_pandas(recs), schema=EVENT_SCHEMA)
    out = population_filter(df).toPandas().sort_values("object_number")
    assert len(out) == 10  # rows survive
    assert out.iloc[0].pixels is None or pd.isna(out.iloc[0].pixels)
    assert out.iloc[1].pixels is not None


def test_segmentation_to_events(spark):
    # two bright blobs on dark background → 2 cell records
    img = np.zeros((1, 20, 20), dtype=np.float32)
    img[0, 2:8, 2:8] = 100.0
    img[0, 12:18, 12:18] = 100.0
    df = spark.createDataFrame(
        events_to_pandas([{"path": "img", "group": "g", "pixels": img}]),
        schema=EVENT_SCHEMA,
    )
    seg = segment_labels(df, "watershed")
    cells = to_events(seg).toPandas().sort_values("id")
    assert len(cells) == 2
    for _, r in cells.iterrows():
        a = decode_tensor(r.pixels, r.pixels_shape)
        m = decode_tensor(r["mask"], r.mask_shape, dtype=bool)
        assert a.shape == m.shape
        assert m.any()
        assert (a[m] == 100.0).all()
    assert set(cells.id) == {1, 2}


def test_segmentation_splits_touching_blobs(spark):
    """Two gaussian blobs whose Otsu foregrounds TOUCH form one
    connected component — the distance-transform watershed must still
    produce two cell records (reference watershed_dapi semantics; a
    plain threshold+label would emit one)."""
    yy, xx = np.mgrid[:40, :60].astype(np.float32)
    ch = 200 * np.exp(-(((yy - 20) ** 2 + (xx - 20) ** 2) / 60))
    ch += 200 * np.exp(-(((yy - 20) ** 2 + (xx - 38) ** 2) / 60))
    img = ch[None, :, :].astype(np.float32)
    df = spark.createDataFrame(
        events_to_pandas([{"path": "img", "group": "g", "pixels": img}]),
        schema=EVENT_SCHEMA,
    )
    seg = segment_labels(df, "watershed")
    cells = to_events(seg).toPandas()
    assert len(cells) == 2
    # the two cells sit left and right: bbox column ranges must differ
    boxes = sorted([tuple(b) for b in cells.bbox], key=lambda b: b[1])
    assert boxes[0][3] <= boxes[1][3] and boxes[0][1] < boxes[1][1]


def test_cellpose_stub_raises(full_events_df):
    with pytest.raises(NotImplementedError):
        segment_labels(full_events_df, "cellpose")


# ---------------------------------------------------------------------------
# F12 CellPose batched-inference path with an injectable model
# (reference cellpose.py:39-126; real model absent in this container)
# ---------------------------------------------------------------------------


def _make_fake_loader():
    """Build a loader for a deterministic CellPose stand-in honouring
    the eval signature (reference cellpose.py:88-94): labels =
    connected components of pixels > half-max on the FIRST channel of
    each (chan, dapi) pair.

    Returned as a CLOSURE so cloudpickle ships it by value to the
    Spark workers (the tests package is not importable there).
    """

    def loader():
        class FakeCellpose:
            def eval(self, x, channels, diameter, batch_size, flow_threshold):
                from scip_spark.kernels import imageops as K

                assert channels == [1, 2] and batch_size == 128
                masks = []
                for img in x:
                    assert img.ndim == 3 and img.shape[0] == 2  # (chan, dapi)
                    ch = img[0]
                    fg = ch > (ch.max() / 2 if ch.max() > 0 else 1)
                    lab, _ = K.label(fg, 2)
                    masks.append(lab)
                return masks, None, None, None

        return FakeCellpose()

    return loader


def _two_blob_df(spark, nchan=2):
    img = np.zeros((nchan, 20, 20), dtype=np.float32)
    img[:, 2:8, 2:8] = 100.0
    img[:, 12:18, 12:18] = 100.0
    return spark.createDataFrame(
        events_to_pandas([{"path": "img", "group": "g", "pixels": img}]),
        schema=EVENT_SCHEMA,
    )


def test_cellpose_fake_model_end_to_end(spark):
    from scip_spark.operators.segmentation import segment_cellpose

    df = _two_blob_df(spark)
    seg = segment_cellpose(df, model_loader=_make_fake_loader())
    cells = to_events(seg).toPandas().sort_values("id")
    # structural parity with the watershed path: same schema, one row
    # per parent object, cropped pixels+mask, ids 1..N
    ws = to_events(segment_labels(df, "watershed")).toPandas()
    assert list(cells.columns) == list(ws.columns)
    assert len(cells) == 2 and set(cells.id) == {1, 2}
    for _, r in cells.iterrows():
        a = decode_tensor(r.pixels, r.pixels_shape)
        m = decode_tensor(r["mask"], r.mask_shape, dtype=bool)
        assert a.shape == m.shape and m.any()
        assert (a[m] == 100.0).all()


def test_cellpose_child_assignment_overlap_rule():
    """Reference cellpose.py:109-121: a child label survives only when
    it overlaps >10% of its parent object, and takes the parent id."""
    from scip_spark.operators.segmentation import _assign_children

    parent = np.zeros((10, 10), dtype=np.int64)
    parent[0:6, 0:6] = 1  # 36 px
    child = np.zeros_like(parent)
    child[0:2, 0:2] = 7   # 4/36 = 11% of parent 1 -> kept, relabeled 1
    child[5, 5] = 8       # 1/36 = 2.8% -> dropped
    child[8:10, 8:10] = 9  # outside parent -> dropped
    out = _assign_children(parent, child)
    assert (out[0:2, 0:2] == 1).all()
    assert out[5, 5] == 0 and (out[8:10, 8:10] == 0).all()
    assert set(np.unique(out)) == {0, 1}


def test_cellpose_null_pixels_pass_through(spark):
    from scip_spark.operators.segmentation import segment_cellpose
    from scip_spark.operators.masking import compute_filters

    # soft-deleted rows (null pixels) must survive with null masks
    df = compute_filters(_two_blob_df(spark), "std", threshold=1e12)
    out = segment_cellpose(df, model_loader=_make_fake_loader()).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["mask"] is None or pd.isna(out.iloc[0]["mask"])


def test_observe_metrics_match_aggregate(spark):
    """DataFrame.observe collects pipeline health metrics as a side
    effect of the ACTION (one pass — no second scan), and must agree
    with the explicit aggregate. The at-scale pattern: every production
    write carries row-count/null-count/sum observations for free."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    obs = Observation("health")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").isNull().cast("int")).alias("n_null"),
        F.sum("id").alias("id_sum"),
    )
    out = observed.filter(F.col("id") % 2 == 0).count()  # the action
    assert out == 500
    got = obs.get
    # observe sees the PRE-filter relation (it hangs off the scan)
    assert got["n_rows"] == 1000
    assert got["n_null"] == 100
    assert got["id_sum"] == 999 * 1000 // 2


def test_population_filter_persists_summed_relation(spark, full_events_df, partial_events_df):
    """The filter's second pass must read the materialized summed
    relation, not recompute the upstream tensor stages (Catalyst cannot
    prune columns into the add_filter_sum mapInPandas, so an
    unpersisted plan evaluates the whole upstream twice)."""
    out = population_filter(full_events_df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    # and the opt-out really opts out (different input frame: the cache
    # manager substitutes ANY canonically-equal plan, so reusing the
    # same input would hit the relation persisted above)
    out2 = population_filter(partial_events_df, persist=False)
    plan2 = out2._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan2


def test_map_stage_fusion(spark, full_events_df):
    """Adjacent map_events stages must fuse into ONE mapInPandas node
    (each unfused hop ships the full tensor relation JVM↔Python — the
    tensor chain is transfer-bound without fusion), results must be
    identical to the unfused chain, and a persisted intermediate must
    break fusion (the cache is the materialization point)."""
    import scip_spark.operators as OPS
    from scip_spark.operators.masking import apply_mask, get_mask
    from scip_spark.operators.threshold_filter import add_filter_sum

    def n_map_nodes(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("MapInPandas")

    chain = add_filter_sum(apply_mask(get_mask(full_events_df, "circle")))
    assert n_map_nodes(chain) == 1

    # identical output to the unfused chain
    OPS.FUSE_STAGES = False
    try:
        unfused = add_filter_sum(apply_mask(get_mask(full_events_df, "circle")))
        assert n_map_nodes(unfused) == 3
        a = chain.select("object_number", "filter_sum").toPandas()
        b = unfused.select("object_number", "filter_sum").toPandas()
    finally:
        OPS.FUSE_STAGES = True
    a = a.sort_values("object_number").reset_index(drop=True)
    b = b.sort_values("object_number").reset_index(drop=True)
    assert a.equals(b)

    # a persisted intermediate is a fusion barrier
    masked = get_mask(full_events_df, "circle").cache()
    try:
        barrier = apply_mask(masked)
        assert n_map_nodes(barrier) == 2
    finally:
        masked.unpersist()


def _n_python_nodes(df, node="MapInPandas"):
    return df._jdf.queryExecution().analyzed().toString().count(node)


@pytest.mark.parametrize("methods", [["otsu"], ["otsu", "li"]], ids=["otsu", "otsu-li"])
def test_fused_build_decodes_in_one_python_worker(
    spark, tiff_fixture_meta, tiff_fixture_config, methods
):
    """Over the TIFF loader, the one relation build persists is ONE
    mapInPandas above the cached metadata scan, for one mask method as
    for several: decode, typed nulls, illumination divide, segmentation,
    to_events and every branch's masks share one Python worker per
    task."""
    from scip_spark.plans.pipeline import BuildCaches, build
    from scip_spark.sources.filescan import attach_pixels
    from scip_spark.sources.tiffio import read_tiff

    cfg = dict(tiff_fixture_config, mask=dict(tiff_fixture_config["mask"], methods=methods))
    caches = BuildCaches()
    try:
        build(attach_pixels(tiff_fixture_meta, ["0", "1"], read_tiff), cfg, caches=caches)
        (persisted,) = caches.frames
        assert _n_python_nodes(persisted) == 1
        assert _n_python_nodes(persisted, "FlatMapGroupsInPandas") == 0
    finally:
        caches.unpersist(blocking=True)


def test_mean_images_one_python_pass(spark, tiff_fixture_meta, monkeypatch):
    """The per-group mean images run as ONE mapInPandas fused onto the
    loader (decode + partial sums), combined on the driver: no
    applyInPandas (FlatMapGroupsInPandas) and no second Python runner."""
    from scip_spark.sources.filescan import attach_pixels
    from scip_spark.sources.tiffio import read_tiff

    px = ensure_event_columns(attach_pixels(tiff_fixture_meta, ["0", "1"], read_tiff))
    plans = []
    to_arrow = type(px).toArrow

    def spy(self):
        plans.append(self)
        return to_arrow(self)

    monkeypatch.setattr(type(px), "toArrow", spy)
    mu = mean_images(px, "group")
    monkeypatch.undo()
    (parts,) = plans
    assert _n_python_nodes(parts) == 1
    assert _n_python_nodes(parts, "FlatMapGroupsInPandas") == 0

    # same images as a driver-side numpy mean over the decoded records
    rows = px.select("pixels", "pixels_shape").collect()
    mean = np.mean([decode_tensor(r.pixels, r.pixels_shape) for r in rows], axis=0, dtype=np.float64)
    from scip_spark.operators.illumination import _finish

    (got,) = mu.values()
    np.testing.assert_array_equal(got, _finish(mean, 3, 1))


def test_ensure_event_columns_keeps_fusion(spark, tiff_fixture_meta):
    """On a map_events output the typed nulls are a fused pandas step:
    a following map_events stage still shares the loader's mapInPandas,
    and schema and values equal the Catalyst withColumns path's."""
    import scip_spark.operators as OPS
    from scip_spark.operators import map_events
    from scip_spark.sources.filescan import attach_pixels
    from scip_spark.sources.tiffio import read_tiff

    px = attach_pixels(tiff_fixture_meta, ["0", "1"], read_tiff)
    fused = ensure_event_columns(px)
    assert _n_python_nodes(map_events(fused, lambda pdf: pdf)) == 1

    OPS.FUSE_STAGES = False
    try:
        catalyst = ensure_event_columns(px)
        assert _n_python_nodes(catalyst) == 1
    finally:
        OPS.FUSE_STAGES = True
    assert fused.schema == catalyst.schema
    a = fused.toPandas().sort_values("rec").reset_index(drop=True)
    b = catalyst.toPandas().sort_values("rec").reset_index(drop=True)
    added = [c for c in fused.columns if c not in px.columns]
    assert added and all(a[c].isna().all() and b[c].isna().all() for c in added)
    for c in px.columns:
        assert [np.asarray(v).tolist() for v in a[c]] == [np.asarray(v).tolist() for v in b[c]]
