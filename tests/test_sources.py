"""Source layer: metadata scans (pivot/regex/union) + pixel attach with
injected fake readers (real decoders aren't in this container)."""

import os

import numpy as np
import pytest

from scip_spark.sources.filescan import (
    attach_pixels,
    czi_meta,
    load_meta_union,
    multiframe_tiff_meta,
    tiff_meta,
    tiff_reader_stub,
    zarr_attach_pixels,
    zarr_meta,
)

REGEX = r"^.*/test(?P<id>.+)_(?P<channel>[0-9])\.tiff$"


@pytest.fixture(scope="module")
def tiff_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tiffs")
    # 2 complete ids × 2 channels + 1 id missing channel 2 (dropped)
    for name in ["testA_1.tiff", "testA_2.tiff", "testB_1.tiff", "testB_2.tiff", "testC_1.tiff"]:
        (d / name).write_bytes(b"\x00")
    return str(d)


def test_tiff_meta_pivot_drops_incomplete(spark, tiff_dir):
    meta = tiff_meta(spark, tiff_dir, REGEX, channels=["1", "2"]).toPandas()
    assert sorted(meta.id) == ["A", "B"]  # C dropped: missing channel 2
    assert set(meta.columns) == {"id", "1", "2"}
    assert meta.loc[meta.id == "A", "1"].iloc[0].endswith("testA_1.tiff")


def test_attach_pixels_fake_reader(spark, tiff_dir):
    meta = tiff_meta(spark, tiff_dir, REGEX, channels=["1", "2"])

    def fake_reader(path):
        seed = 1 if "_1" in os.path.basename(path) else 2
        return np.full((4, 6), float(seed), dtype=np.float32)

    out = attach_pixels(meta, ["1", "2"], fake_reader).toPandas()
    assert len(out) == 2
    r = out.iloc[0]
    assert list(r.pixels_shape) == [2, 4, 6]
    arr = np.asarray(r.pixels, dtype=np.float32).reshape(2, 4, 6)
    assert (arr[0] == 1.0).all() and (arr[1] == 2.0).all()


def test_reader_stub_raises():
    with pytest.raises(NotImplementedError):
        tiff_reader_stub("/x.tiff")


def test_multiframe_meta_group(spark, tmp_path):
    sub = tmp_path / "plate1"
    sub.mkdir()
    for i in range(3):
        (sub / f"img{i}.tiff").write_bytes(b"")
    meta = multiframe_tiff_meta(spark, str(tmp_path)).toPandas()
    assert len(meta) == 3
    assert set(meta.group) == {"plate1"}


def test_zarr_meta_and_attach(spark):
    shapes = [[2, 4, 4], [2, 5, 5], [2, 3, 3]]  # ragged
    meta = zarr_meta(spark, shapes, "/store.zarr", regex=r"^/(?P<name>\w+)\.zarr$")
    pdf = meta.toPandas()
    assert list(pdf.zarr_idx) == [0, 1, 2]
    assert pdf.name.iloc[0] == "store"

    def fake_fetch(path, idx):
        shape = shapes[idx]
        return np.arange(np.prod(shape), dtype=np.float32)

    out = zarr_attach_pixels(meta, fake_fetch, channels=[0]).toPandas()
    assert list(out.iloc[1].pixels_shape) == [1, 5, 5]  # channel-selected


def test_czi_meta_explodes_tiles(spark):
    meta = czi_meta(
        spark, "/scan.czi", ["s1", "s2", "skip"], {"s1": 2, "s2": 3, "skip": 1}, regex="^s[0-9]$"
    ).toPandas()
    assert len(meta) == 5  # 2 + 3 tiles; 'skip' filtered by regex
    assert sorted(meta[meta.scene == "s2"].tile) == [0, 1, 2]


def test_czi_attach_pixels_injectable_reader(spark):
    """S9 pixel read (reference czi.py:35-46) with an injectable
    aicsimageio-shaped reader; stub raises cleanly when not injected."""
    from scip_spark.sources.filescan import (
        czi_attach_pixels,
        czi_reader_stub,
        czi_scene_meta,
    )

    meta = czi_meta(
        spark, "/scan.czi", ["well_A1", "well_B2"], {"well_A1": 2, "well_B2": 1}
    )
    meta = czi_scene_meta(meta, r"well_(?P<row>[A-Z])(?P<col>[0-9])")

    def fake_reader(path, scene, tile):
        # deterministic 3-channel tile keyed by scene+tile, CZXY-style
        base = float(ord(scene[-2]) * 10 + int(scene[-1]) + tile)
        return np.full((3, 4, 4), base, dtype=np.float32)

    out = czi_attach_pixels(meta, fake_reader, channels=[0, 2]).toPandas()
    assert len(out) == 3  # 2 + 1 tiles
    assert {tuple(s) for s in out.pixels_shape} == {(2, 4, 4)}  # C-selected
    r = out[(out.scene == "well_A1") & (out.tile == 1)].iloc[0]
    assert r.row == "A" and r.col == "1"
    assert r.pixels[0] == float(ord("A") * 10 + 1 + 1)

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        czi_reader_stub("/scan.czi", "well_A1", 0)


def test_load_meta_union(spark, tiff_dir):
    a = tiff_meta(spark, tiff_dir, REGEX, channels=["1", "2"])
    b = tiff_meta(spark, tiff_dir, REGEX, channels=["1", "2"])
    u = load_meta_union([a, b])
    assert u.count() == 4


def test_python_datasource_image_dir(spark, tmp_path):
    """Spark 4 Python DataSource: spark.read.format('scip_images')."""
    from scip_spark.sources.datasource import register_image_source

    if not register_image_source(spark):
        pytest.skip("Python DataSource API unavailable")
    d = tmp_path / "imgs"
    d.mkdir()
    for rec in ("a", "b", "c"):
        for c in (0, 1):
            (d / f"{rec}_{c}.tif").write_bytes(b"\x00")
    (d / "orphan_0.tif").write_bytes(b"\x00")  # missing channel 1 → dropped

    df = (
        spark.read.format("scip_images")
        .option("path", str(d))
        .option("recordsPerPartition", "2")
        .load()
    )
    pdf = df.toPandas()
    assert sorted(pdf.rec) == ["a", "b", "c"]
    assert list(pdf.iloc[0].pixels_shape) == [2, 16, 16]
    assert df.rdd.getNumPartitions() == 2  # 3 records / 2 per partition


def test_python_datasource_image_stream(spark, tmp_path):
    """Streaming side of the scip_images source: records present at
    start arrive in batch 1; records acquired later arrive in a later
    micro-batch; nothing is re-read (offset = complete-record count)."""
    from scip_spark.sources.datasource import register_image_source

    if not register_image_source(spark):
        pytest.skip("Python DataSource API unavailable")
    d = tmp_path / "acq"
    d.mkdir()
    for rec in ("s001", "s002"):
        for c in (0, 1):
            (d / f"{rec}_{c}.tif").write_bytes(b"\x00")

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("scip_images")
            .option("path", str(d))
            .option("recordsPerPartition", "1")
            .load()
            .select("rec", "path_c0")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = sorted(r.rec for r in spark.read.parquet(out).collect())
    assert first == ["s001", "s002"]

    # two more records land; the incomplete one must NOT be emitted
    for c in (0, 1):
        (d / f"s003_{c}.tif").write_bytes(b"\x00")
    (d / "s004_0.tif").write_bytes(b"\x00")
    run_once()
    second = sorted(r.rec for r in spark.read.parquet(out).collect())
    assert second == ["s001", "s002", "s003"]


def test_jsonl_roundtrip_and_corrupt_rescue(spark, tmp_path):
    """JSONL corpus IO: clean lines round-trip exactly; corrupt lines
    land in _corrupt_record instead of killing the read or silently
    vanishing."""
    from scip_spark.sources.corpus_io import (
        corrupt_stats,
        read_jsonl_corpus,
        write_jsonl_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shards")
    n_shards = write_jsonl_shards(docs, out, budget=50_000)
    assert n_shards >= 2

    back = read_jsonl_corpus(spark, f"{out}/shard_id=*/")
    # NB: any query off a permissive read must reference a real column
    # alongside _corrupt_record (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so
    # no bare .count() after a corrupt-only filter
    clean = back.filter("_corrupt_record IS NULL").select("doc_id", "text")
    a = sorted(r.doc_id for r in docs.select("doc_id").collect())
    b = sorted(r.doc_id for r in clean.select("doc_id").collect())
    assert a == b
    # text survives byte-exact through the JSON roundtrip
    orig = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    got = {r.doc_id: r.text for r in clean.collect()}
    assert orig == got

    # corrupt handling: append garbage lines to one shard file
    import glob

    (f,) = glob.glob(f"{out}/shard_id=0/part-*.json")[:1]
    with open(f, "a") as fh:
        fh.write('{"doc_id": 1, "text": "trunc\n')
        fh.write("not json at all\n")
    # drop the Hadoop CRC sidecar: real-world raw dumps carry no
    # checksums, and the local FS would fail the whole read otherwise
    import os as _os

    crc = f"{_os.path.dirname(f)}/.{_os.path.basename(f)}.crc"
    if _os.path.exists(crc):
        _os.remove(crc)
    back2 = read_jsonl_corpus(spark, f"{out}/shard_id=*/")
    stats = corrupt_stats(back2).collect()[0]
    assert stats.n_corrupt == 2
    assert stats.n_rows == docs.count() + 2


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet parts: a directory whose files
    carry different (overlapping) schemas reads as the merged union
    with nulls for absent columns — the contract an append-only lake
    relies on when a column is added mid-history."""
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "x"]).write.parquet(d + "/p1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "x", "score"]).write.parquet(
        d + "/p2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(d + "/p1", d + "/p2")
    assert set(merged.columns) == {"id", "x", "score"}
    rows = {r.id: (r.x, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_stream_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """maxFilesPerTrigger bounds micro-batch ingest (the backpressure
    knob for file streams): 4 input files at 1 file/trigger must take
    >= 4 micro-batches and still deliver every row exactly once."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "paced")
    spark.range(40).withColumn("p", F.col("id") % 4).repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    stream = (
        spark.readStream.schema("id long, p long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("paced_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 4
    got = sorted(r.id for r in spark.table("paced_out").collect())
    assert got == list(range(40))


# ---------------------------------------------------------------------------
# r13 (VERDICT r12 #4): REAL-bytes decode paths — no injected fakes.
# Reference parity: test/loading/test_tiff.py:6-21 and test_zarr.py:23-31
# read actual files; these do too, via the built-in pure-Python codecs.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def real_tiff_dir(tmp_path_factory):
    """Actual TIFF bytes: 2 ids x 2 channels, mixed dtypes and BOTH
    byte orders (a byte-order bug must fail here)."""
    from scip_spark.sources.tiffio import write_tiff

    d = tmp_path_factory.mktemp("real_tiffs")
    rng = np.random.default_rng(7)
    planes = {}
    for rec, order in (("A", "<"), ("B", ">")):
        for ch, dt in (("1", np.uint16), ("2", np.float32)):
            arr = (rng.random((12, 10)) * 200).astype(dt)
            write_tiff(str(d / f"test{rec}_{ch}.tiff"), arr, byteorder=order)
            planes[(rec, ch)] = arr
    return str(d), planes


def test_tiff_real_bytes_roundtrip(real_tiff_dir):
    """Codec-level: both byte orders, uint16 and float32, exact."""
    from scip_spark.sources.tiffio import read_tiff

    d, planes = real_tiff_dir
    for (rec, ch), want in planes.items():
        got = read_tiff(os.path.join(d, f"test{rec}_{ch}.tiff"))
        assert got.dtype.kind == want.dtype.kind
        np.testing.assert_array_equal(got.astype(np.float64), want.astype(np.float64))


def test_tiff_meta_attach_real_bytes(spark, real_tiff_dir):
    """S3+S4 end-to-end on real bytes: glob -> regex pivot -> Arrow-
    batched decode through the production default reader (no fake)."""
    from scip_spark.sources.filescan import default_tiff_reader

    d, planes = real_tiff_dir
    meta = tiff_meta(spark, d, REGEX, channels=["1", "2"])
    out = attach_pixels(meta, ["1", "2"], default_tiff_reader()).toPandas()
    assert len(out) == 2
    for _, row in out.iterrows():
        stack = np.array(row["pixels"], dtype=np.float32).reshape(row["pixels_shape"])
        assert list(row["pixels_shape"]) == [2, 12, 10]
        for ci, ch in enumerate(["1", "2"]):
            np.testing.assert_allclose(
                stack[ci], planes[(row["id"], ch)].astype(np.float32), rtol=0, atol=0
            )


def test_multiframe_tiff_real_bytes(spark, tmp_path):
    """S5: frames-as-channels through a real multi-IFD chain — a
    frame-seek bug (wrong next-IFD offset walk) fails here."""
    from scip_spark.sources.filescan import default_tiff_reader
    from scip_spark.sources.tiffio import write_tiff

    frames = np.arange(3 * 6 * 5, dtype=np.uint8).reshape(3, 6, 5)
    grp = tmp_path / "acq1"
    grp.mkdir()
    write_tiff(str(grp / "stack.tiff"), frames)
    meta = multiframe_tiff_meta(spark, str(tmp_path))
    out = attach_pixels(meta, ["path"], default_tiff_reader()).toPandas()
    assert len(out) == 1 and out.iloc[0]["group"] == "acq1"
    got = np.array(out.iloc[0]["pixels"], dtype=np.float32).reshape(
        out.iloc[0]["pixels_shape"]
    )
    # attach stacks the per-path read on a new axis: (1, frames, H, W)
    np.testing.assert_array_equal(got[0], frames.astype(np.float32))


def test_zarr_real_bytes_ragged_store(spark, tmp_path):
    """S6 end-to-end on a spec-level zarr v2 store (JSON metadata + raw
    chunk files, multi-chunk so the chunk-grid math is exercised):
    shapes from .zattrs -> zarr_meta -> zarr_attach_pixels fetching
    REAL chunk bytes, channel selection included."""
    from scip_spark.sources.zarrio import (
        fetch_member,
        group_member_shapes,
        write_group,
    )

    rng = np.random.default_rng(11)
    cells = [
        (rng.random((2, 6, 7)) * 100).astype(np.float32),
        (rng.random((2, 4, 9)) * 100).astype(np.float32),
        (rng.random((2, 5, 5)) * 100).astype(np.float32),
    ]
    store = str(tmp_path / "cells.zarr")
    write_group(store, cells, chunks=(1, 3, 4))  # forces multi-chunk reads
    shapes = group_member_shapes(store)
    assert shapes == [[2, 6, 7], [2, 4, 9], [2, 5, 5]]
    meta = zarr_meta(spark, shapes, store, regex=r"^.*/(?P<name>\w+)\.zarr$")
    out = zarr_attach_pixels(meta, fetch_member, channels=[1]).toPandas()
    assert len(out) == 3
    for i, row in out.sort_values("zarr_idx").reset_index(drop=True).iterrows():
        got = np.array(row["pixels"], dtype=np.float32).reshape(row["pixels_shape"])
        np.testing.assert_array_equal(got, cells[i][[1]])


def test_zarr_reference_single_array_layout(spark, tmp_path):
    """ADVICE r13: the REFERENCE's actual ragged layout (reference
    src/scip/loading/zarr.py:52-61,89-104) — one array whose rows are
    flattened records, attrs['shape'] (singular) + object_number —
    loads through the same group_member_shapes/fetch_member pair, with
    first-axis chunk pruning (only row idx's chunk files are read)."""
    from scip_spark.sources.zarrio import (
        fetch_member,
        group_member_shapes,
        write_ragged_array,
    )

    rng = np.random.default_rng(23)
    cells = [
        (rng.random((2, 6, 7)) * 100).astype(np.float32),
        (rng.random((2, 4, 9)) * 100).astype(np.float32),
        (rng.random((2, 5, 5)) * 100).astype(np.float32),
    ]
    store = str(tmp_path / "ref_cells.zarr")
    # chunks: 2 rows per chunk x 40-wide blocks — multi-chunk each axis
    write_ragged_array(store, cells, chunks=(2, 40))
    shapes = group_member_shapes(store)
    assert shapes == [[2, 6, 7], [2, 4, 9], [2, 5, 5]]
    # direct fetch: padded row truncated to the record's element count
    for i, c in enumerate(cells):
        np.testing.assert_array_equal(
            fetch_member(store, i).reshape(c.shape), c
        )
    # and through the S6 Spark path with channel selection
    meta = zarr_meta(spark, shapes, store, regex=r"^.*/(?P<name>\w+)\.zarr$")
    out = zarr_attach_pixels(meta, fetch_member, channels=[0]).toPandas()
    assert len(out) == 3
    for i, row in out.sort_values("zarr_idx").reset_index(drop=True).iterrows():
        got = np.array(row["pixels"], dtype=np.float32).reshape(row["pixels_shape"])
        np.testing.assert_array_equal(got, cells[i][[0]])


def test_zarr_chunk_grid_roundtrip(tmp_path):
    """Codec-level: edge chunks (padded to full chunk shape per spec),
    int and float dtypes, 1-D through 3-D."""
    from scip_spark.sources.zarrio import read_array, write_array

    rng = np.random.default_rng(3)
    for shape, chunks, dt in [
        ((7,), (3,), np.int32),
        ((5, 6), (2, 4), np.uint16),
        ((3, 5, 4), (2, 2, 3), np.float64),
    ]:
        arr = (rng.random(shape) * 50).astype(dt)
        p = str(tmp_path / f"a_{len(shape)}d_{np.dtype(dt).name}.zarr")
        write_array(p, arr, chunks=chunks)
        np.testing.assert_array_equal(read_array(p), arr)


def test_tiff_codec_property_roundtrip(tmp_path):
    """Property sweep of the baseline-TIFF codec: every supported
    dtype x byte order x frame count x odd shapes round-trips
    bit-exactly (reference test/loading reads real files; this pins
    the codec across the whole supported matrix)."""
    from scip_spark.sources.tiffio import read_tiff, write_tiff

    rng = np.random.default_rng(42)
    dtypes = [np.uint8, np.uint16, np.uint32, np.int16, np.int32,
              np.float32, np.float64]
    case = 0
    for dt in dtypes:
        for order in ("<", ">"):
            for frames in (1, 3):
                h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
                if np.dtype(dt).kind == "f":
                    arr = rng.standard_normal((frames, h, w)).astype(dt)
                else:
                    info = np.iinfo(dt)
                    arr = rng.integers(
                        max(info.min, -1000), min(info.max, 1000) + 1,
                        size=(frames, h, w),
                    ).astype(dt)
                if frames == 1:
                    arr = arr[0]
                p = str(tmp_path / f"c{case}.tiff")
                case += 1
                write_tiff(p, arr, byteorder=order)
                got = read_tiff(p)
                assert got.shape == arr.shape, (dt, order, frames)
                assert got.dtype.kind == np.dtype(dt).kind
                assert got.dtype.itemsize == np.dtype(dt).itemsize
                np.testing.assert_array_equal(
                    got.astype(np.float64), arr.astype(np.float64)
                )


def test_tiff_codec_rejects_unsupported(tmp_path):
    """Non-TIFF bytes and unsupported features fail loudly (never a
    silently-wrong decode)."""
    import pytest as _pytest

    from scip_spark.sources.tiffio import read_tiff

    bad = tmp_path / "not_a.tiff"
    bad.write_bytes(b"PK\x03\x04 definitely not a tiff")
    with _pytest.raises(ValueError, match="byte-order"):
        read_tiff(str(bad))


def _tiny_tiff_no_byte_counts(n_strips: int) -> bytes:
    """Hand-built little-endian 4x4 uint8 TIFF with ``n_strips`` strip
    offsets and NO StripByteCounts tag (non-conformant but seen in the
    wild for the 1-strip case)."""
    import struct

    data = bytes(range(16))  # 4x4 uint8, strips split row-pairs
    ifd_off = 8 + 16
    ents = []
    ents.append(struct.pack("<HHI4s", 256, 3, 1, struct.pack("<HH", 4, 0)))  # width
    ents.append(struct.pack("<HHI4s", 257, 3, 1, struct.pack("<HH", 4, 0)))  # length
    ents.append(struct.pack("<HHI4s", 258, 3, 1, struct.pack("<HH", 8, 0)))  # bits
    ents.append(struct.pack("<HHI4s", 259, 3, 1, struct.pack("<HH", 1, 0)))  # compr
    if n_strips == 1:
        ents.append(struct.pack("<HHII", 273, 4, 1, 8))
    else:
        # 2 LONG offsets don't fit inline: point past the IFD
        ptr = ifd_off + 2 + 12 * 5 + 4
        ents.append(struct.pack("<HHII", 273, 4, 2, ptr))
    ifd = struct.pack("<H", len(ents)) + b"".join(ents) + struct.pack("<I", 0)
    tail = struct.pack("<II", 8, 16) if n_strips == 2 else b""
    return b"II" + struct.pack("<HI", 42, ifd_off) + data + ifd + tail


def test_tiff_multi_strip_without_byte_counts_fails_loudly(tmp_path):
    """ADVICE r13: a multi-strip file missing StripByteCounts must
    raise (the old full-frame default zip-truncated to the FIRST strip
    — silently wrong pixels); the 1-strip default stays accepted."""
    import pytest as _pytest

    from scip_spark.sources.tiffio import read_tiff

    ok = tmp_path / "one_strip.tiff"
    ok.write_bytes(_tiny_tiff_no_byte_counts(1))
    np.testing.assert_array_equal(
        read_tiff(str(ok)), np.arange(16, dtype=np.uint8).reshape(4, 4)
    )

    bad = tmp_path / "two_strips.tiff"
    bad.write_bytes(_tiny_tiff_no_byte_counts(2))
    with _pytest.raises(ValueError, match="StripByteCounts"):
        read_tiff(str(bad))


def test_tiff_compressed_codecs_known_vectors():
    """r14: compressed-TIFF support pinned to EXTERNAL references, not
    just self round-trips — PackBits against the canonical Apple TN1023
    example, TIFF-LZW against a hand-derived bit-level vector (codes
    256,0,258,257 at 9 bits, MSB-first), and Deflate delegates to
    stdlib zlib (externally validated by construction)."""
    from scip_spark.sources.tiffio import (
        _lzw_decode,
        _lzw_encode,
        _packbits_decode,
        _packbits_encode,
    )

    packed = bytes.fromhex("FEAA0280002AFDAA03800A2A22F7AA")
    want = bytes.fromhex("AAAAAA80002AAAAAAAAA800A2A22AAAAAAAAAAAAAAAAAAAA")
    assert _packbits_decode(packed) == want
    assert _packbits_decode(_packbits_encode(want)) == want

    assert _lzw_decode(bytes.fromhex("8000205010")) == b"\x00\x00\x00"
    assert _lzw_encode(b"\x00\x00\x00") == bytes.fromhex("8000205010")


def test_tiff_lzw_width_ladder_and_clear():
    """The LZW code width must climb 9->10->11->12 and restart at the
    spec's 4094-entry Clear; 300k low-entropy bytes cross every
    boundary, 200k high-entropy bytes force multiple Clears."""
    from scip_spark.sources.tiffio import _lzw_decode, _lzw_encode

    rng = np.random.default_rng(5)
    for blob in (
        rng.integers(0, 8, size=300_000, dtype=np.uint8).tobytes(),
        rng.integers(0, 256, size=200_000, dtype=np.uint8).tobytes(),
        (b"\x00" * 500 + b"abcabc" * 300 + bytes(range(256)) * 10) * 20,
    ):
        assert _lzw_decode(_lzw_encode(blob)) == blob


def test_tiff_compressed_roundtrip_matrix(tmp_path):
    """write->read across every (byte order, compression, predictor,
    dtype, strip split) combination: deflate/packbits/lzw strips,
    horizontal-differencing predictor on int dtypes, multi-strip
    compressed frames (each strip decompresses independently)."""
    import itertools

    from scip_spark.sources.tiffio import read_tiff, write_tiff

    rng = np.random.default_rng(17)
    n = 0
    for en, comp, pred, dt, rps in itertools.product(
        ["<", ">"],
        ["none", "deflate", "packbits", "lzw"],
        [1, 2],
        [np.uint8, np.uint16, np.int16, np.float32],
        [None, 3],
    ):
        if pred == 2 and np.dtype(dt).kind == "f":
            continue  # predictor 2 is integer-only (write_tiff raises)
        a = (rng.random((2, 7, 9)) * 200).astype(dt)
        p = str(tmp_path / f"c{n}.tiff")
        write_tiff(p, a, byteorder=en, compression=comp,
                   predictor=pred, rows_per_strip=rps)
        np.testing.assert_array_equal(read_tiff(p).astype(dt), a)
        n += 1
    assert n == 112


def test_tiff_tiled_roundtrip_matrix(tmp_path):
    """r14: TILED TIFF layout (TIFF 6.0 §15) — row-major grid of
    independently-compressed blocks, edge tiles zero-padded to full
    size, predictor restarting per tile. 10×13 frames with non-dividing
    tile grids exercise both edge directions."""
    import itertools

    from scip_spark.sources.tiffio import read_tiff, write_tiff

    rng = np.random.default_rng(9)
    n = 0
    for en, comp, pred, dt, tl in itertools.product(
        ["<", ">"],
        ["none", "deflate", "packbits", "lzw"],
        [1, 2],
        [np.uint8, np.uint16, np.float32],
        [(4, 4), (3, 5), (16, 16)],
    ):
        if pred == 2 and np.dtype(dt).kind == "f":
            continue
        a = (rng.random((2, 10, 13)) * 200).astype(dt)
        p = str(tmp_path / f"tile{n}.tiff")
        write_tiff(p, a, byteorder=en, compression=comp, predictor=pred, tile=tl)
        np.testing.assert_array_equal(read_tiff(p).astype(dt), a)
        n += 1
    assert n == 120


def test_zarr_zlib_compressed_store(spark, tmp_path):
    """r14: numcodecs-zlib/gzip-compressed zarr stores decode with the
    stdlib (wbits auto-detect) through BOTH the whole-array reader and
    the chunk-pruned reference-layout row fetch; blosc-style ids still
    fail loudly."""
    import json

    import pytest as _pytest

    from scip_spark.sources.zarrio import (
        fetch_member,
        group_member_shapes,
        read_array,
        write_array,
        write_ragged_array,
    )

    rng = np.random.default_rng(31)
    a = (rng.random((5, 8)) * 100).astype(np.float32)
    store = str(tmp_path / "z.zarr")
    write_array(store, a, chunks=(2, 3), compressor="zlib")
    np.testing.assert_array_equal(read_array(store), a)

    cells = [
        (rng.random((2, 4, 5)) * 100).astype(np.float32),
        (rng.random((2, 3, 7)) * 100).astype(np.float32),
    ]
    ref = str(tmp_path / "ref.zarr")
    write_ragged_array(ref, cells, chunks=(1, 24))
    # recompress the member chunks as zlib by rewriting the store
    import shutil

    shutil.rmtree(ref)
    flats = [c.ravel() for c in cells]
    w = max(f.size for f in flats)
    mat = np.zeros((2, w), dtype=np.float32)
    for i, f in enumerate(flats):
        mat[i, : f.size] = f
    write_array(ref, mat, chunks=(1, 24), compressor="zlib")
    with open(f"{ref}/.zattrs", "w") as f:
        json.dump({"shape": [list(c.shape) for c in cells],
                   "object_number": [0, 1]}, f)
    assert group_member_shapes(ref) == [[2, 4, 5], [2, 3, 7]]
    for i, c in enumerate(cells):
        np.testing.assert_array_equal(fetch_member(ref, i).reshape(c.shape), c)

    # unsupported compressor id fails loudly, not wrongly
    bad = str(tmp_path / "bad.zarr")
    write_array(bad, a, chunks=(5, 8))
    meta = json.load(open(f"{bad}/.zarray"))
    meta["compressor"] = {"id": "blosc", "cname": "lz4"}
    with open(f"{bad}/.zarray", "w") as f:
        json.dump(meta, f)
    with _pytest.raises(ValueError, match="blosc"):
        read_array(bad)


def test_tiff_lzw_eoi_width_boundary():
    """r14 review (confirmed bug): when the FINAL data code lands
    exactly on the decoder's early-change boundary, the decoder widens
    before reading EOI — the encoder must emit EOI at the widened
    width or strict decoders read garbage. Sweep payload lengths that
    land the last code around the 511/1023 boundaries."""
    from scip_spark.sources.tiffio import _lzw_decode, _lzw_encode

    rng = np.random.default_rng(101)
    for n in list(range(240, 280)) + list(range(740, 800)):
        data = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
        assert _lzw_decode(_lzw_encode(data)) == data, n


def test_tiff_lzw_decoder_streams():
    """The LZW decoder's two-byte accumulator refill, local table size
    and Clear reset: round trips over seeded random payloads of odd and
    even lengths (the final refill is then one byte or two),
    KwKwK-heavy runs (each code is the entry being defined) and
    Clear-crossing streams; a stream cut before its EOI decodes to a
    prefix of the payload instead of raising."""
    from scip_spark.sources.tiffio import _lzw_decode, _lzw_encode

    rng = np.random.default_rng(7)
    payloads = [
        rng.integers(0, alpha, size=n, dtype=np.uint8).tobytes()
        for n in (0, 1, 2, 3, 17, 1001, 4096, 9999)
        for alpha in (2, 256)
    ]
    payloads += [b"\x07" * 70_000, b"ab" * 30_000 + b"\x00" * 50_000]
    payloads.append(rng.integers(0, 256, size=60_000, dtype=np.uint8).tobytes())
    for data in payloads:
        assert _lzw_decode(_lzw_encode(data)) == data, len(data)

    data = payloads[-1]
    enc = _lzw_encode(data)
    for cut in (1, 2, 3, len(enc) // 2):
        out = _lzw_decode(enc[:-cut])
        assert out and data.startswith(out)
    assert len(_lzw_decode(enc[: len(enc) // 2])) < len(data)


def test_tiff_fixture_decodes_to_expected():
    """The committed ten-file TIFF fixture (one codec/layout per file,
    LZW among them) decodes to the checksums in tiff_expected.json,
    on the same exact 2^-20 grid the tiff_codec_checksum query uses."""
    import json
    from pathlib import Path

    from scip_spark.sources.tiffio import read_tiff

    fixtures = Path(__file__).resolve().parent.parent / "scip_spark" / "fixtures"
    rows = json.loads((fixtures / "tiff_expected.json").read_text())["rows"]
    assert len(rows) == 5
    for r in rows:
        a = np.stack(
            [read_tiff(str(fixtures / "tiff" / f"{r['rec']}_{c}.tiff")).astype(np.float32) for c in (0, 1)]
        )
        assert list(a.shape) == [r["c"], r["h"], r["w"]]
        fp = np.floor(a.astype(np.float64) * 1048576.0).astype(np.int64).sum()
        assert int(fp) == r["px_sum_fp"], r["rec"]


def test_tiff_multi_strip_without_rows_per_strip(tmp_path):
    """r14 review: a multi-strip file WITH byte counts but WITHOUT a
    RowsPerStrip tag must keep decoding (pre-r14 behavior: concatenate
    strips and trust the counts)."""
    import struct

    from scip_spark.sources.tiffio import read_tiff

    data = bytes(range(16))  # 4x4 uint8 in two 8-byte strips
    ifd_off = 8 + 16
    ents = [
        struct.pack("<HHI4s", 256, 3, 1, struct.pack("<HH", 4, 0)),
        struct.pack("<HHI4s", 257, 3, 1, struct.pack("<HH", 4, 0)),
        struct.pack("<HHI4s", 258, 3, 1, struct.pack("<HH", 8, 0)),
        struct.pack("<HHI4s", 259, 3, 1, struct.pack("<HH", 1, 0)),
        struct.pack("<HHII", 273, 4, 2, ifd_off + 2 + 12 * 6 + 4),      # offsets ptr
        struct.pack("<HHII", 279, 4, 2, ifd_off + 2 + 12 * 6 + 4 + 8),  # counts ptr
    ]
    ifd = struct.pack("<H", len(ents)) + b"".join(ents) + struct.pack("<I", 0)
    tail = struct.pack("<IIII", 8, 16, 8, 8)  # offsets 8,16; counts 8,8
    p = tmp_path / "nostrip_rps.tiff"
    p.write_bytes(b"II" + struct.pack("<HI", 42, ifd_off) + data + ifd + tail)
    np.testing.assert_array_equal(
        read_tiff(str(p)), np.arange(16, dtype=np.uint8).reshape(4, 4)
    )


def test_tiff_writer_word_alignment(tmp_path):
    """r14 review: compressed strip lengths are arbitrary, so the
    writer must pad blocks to even length — every IFD and overflow
    offset in the produced file is word-aligned (TIFF 6.0 rule)."""
    import struct

    from scip_spark.sources.tiffio import read_tiff, write_tiff

    rng = np.random.default_rng(7)
    a = (rng.random((3, 9, 11)) * 200).astype(np.uint8)
    p = str(tmp_path / "align.tiff")
    write_tiff(p, a, compression="packbits", rows_per_strip=2)
    buf = open(p, "rb").read()
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    while ifd_off:
        assert ifd_off % 2 == 0
        (n,) = struct.unpack_from("<H", buf, ifd_off)
        for i in range(n):
            base = ifd_off + 2 + 12 * i
            tag, ftype, count = struct.unpack_from("<HHI", buf, base)
            size = {3: 2, 4: 4}[ftype] * count
            if size > 4:  # pointer cell: the pointed-to offset is even
                (ptr,) = struct.unpack_from("<I", buf, base + 8)
                assert ptr % 2 == 0, (tag, ptr)
        (ifd_off,) = struct.unpack_from("<I", buf, ifd_off + 2 + 12 * n)
    np.testing.assert_array_equal(read_tiff(p), a)


class TestZisraw:
    def test_roundtrip_matrix(self, tmp_path):
        import numpy as np

        from scip_spark.sources import zisraw

        rng = np.random.default_rng(0)
        scenes = {
            "A1": [(rng.random((2, 6, 8)) * 200).astype(np.uint16)
                   for _ in range(3)],
            "B2": [(rng.random((3, 5, 7)) * 100).astype(np.float32)
                   for _ in range(2)],
            "C9": [(rng.random((1, 4, 4)) * 250).astype(np.uint8)],
        }
        p = str(tmp_path / "t.czi")
        zisraw.write_czi(p, scenes)
        names, tiles = zisraw.scene_inventory(p)
        assert names == ["A1", "B2", "C9"]
        assert tiles == {"A1": 3, "B2": 2, "C9": 1}
        for name, tl in scenes.items():
            for m, tile in enumerate(tl):
                import numpy as np

                assert np.array_equal(zisraw.fetch_tile(p, name, m), tile)

    def test_segment_layout_spec_invariants(self, tmp_path):
        """Byte-level assertions on the published layout: 32-byte
        segment headers, 32-byte alignment, the directory/metadata
        positions declared in the ZISRAWFILE header actually hold
        those segments."""
        import struct

        import numpy as np

        from scip_spark.sources import zisraw

        p = str(tmp_path / "t.czi")
        zisraw.write_czi(p, {"S0": [np.zeros((1, 4, 4), dtype=np.uint8)]})
        buf = open(p, "rb").read()
        assert buf[:10] == b"ZISRAWFILE"
        dir_pos, meta_pos = struct.unpack_from("<qq", buf, 32 + 16 + 32 + 4)
        assert dir_pos % 32 == 0 and meta_pos % 32 == 0
        assert buf[meta_pos : meta_pos + 14] == b"ZISRAWMETADATA"
        assert buf[dir_pos : dir_pos + 15] == b"ZISRAWDIRECTORY"

    def test_compressed_subblock_fails_fast(self, tmp_path):
        import struct

        import numpy as np
        import pytest

        from scip_spark.sources import zisraw

        p = str(tmp_path / "t.czi")
        zisraw.write_czi(p, {"S0": [np.zeros((1, 4, 4), dtype=np.uint8)]})
        buf = bytearray(open(p, "rb").read())
        # flip the directory entry's Compression field to JPEG-XR (4):
        # entry starts after count+spare in the directory segment
        dir_pos, _ = struct.unpack_from("<qq", buf, 32 + 16 + 32 + 4)
        entry = dir_pos + 32 + 4 + 124
        assert bytes(buf[entry : entry + 2]) == b"DV"
        struct.pack_into("<i", buf, entry + 2 + 4 + 8 + 4, 4)
        open(p, "wb").write(bytes(buf))
        with pytest.raises(ValueError, match="injected aicsimageio"):
            zisraw.fetch_tile(p, 0, 0)

    def test_default_czi_reader_reads_real_bytes(self, tmp_path):
        """Without aicsimageio, default_czi_reader() is the ZISRAW
        parser — the S9 path runs on real container bytes by default."""
        import numpy as np

        from scip_spark.sources import zisraw
        from scip_spark.sources.filescan import default_czi_reader

        p = str(tmp_path / "t.czi")
        tile = (np.arange(2 * 3 * 4) % 251).astype(np.uint8).reshape(2, 3, 4)
        zisraw.write_czi(p, {"well_X": [tile]})
        reader = default_czi_reader()
        assert np.array_equal(reader(p, "well_X", 0), tile)

    def test_non_czi_fails_loudly(self, tmp_path):
        import pytest

        from scip_spark.sources import zisraw

        p = str(tmp_path / "junk.czi")
        open(p, "wb").write(b"not a czi container at all" * 4)
        with pytest.raises(ValueError, match="ZISRAWFILE"):
            zisraw.scene_inventory(p)

    def test_subblock_metadata_offsets_data(self, tmp_path):
        """Zen files carry per-subblock XML; pixels sit AFTER it at
        max(256, fixed) + MetadataSize (review r15: folding msize into
        the max() returned XML bytes as pixels, silently)."""
        import numpy as np

        from scip_spark.sources import zisraw

        tile = (np.arange(2 * 5 * 6) % 199).astype(np.uint16).reshape(2, 5, 6)
        p = str(tmp_path / "m.czi")
        zisraw.write_czi(p, {"S0": [tile]},
                         subblock_xml="<METADATA>" + "x" * 300 + "</METADATA>")
        assert np.array_equal(zisraw.fetch_tile(p, "S0", 0), tile)

    def test_noncontiguous_scene_and_tile_indices(self, tmp_path):
        """A single-scene export keeps its original S start (and M
        starts); name and ordinal-tile resolution must follow the
        ACTUAL dimension starts, not positional assumptions."""
        import struct

        import numpy as np

        from scip_spark.sources import zisraw

        tiles = [
            (np.arange(1 * 4 * 4) % 97).astype(np.uint8).reshape(1, 4, 4),
            ((np.arange(1 * 4 * 4) + 7) % 97).astype(np.uint8).reshape(1, 4, 4),
        ]
        p = str(tmp_path / "nc.czi")
        zisraw.write_czi(p, {"exported": tiles})
        # rewrite every S start 0 -> 5 and M starts 0,1 -> 3,4 in BOTH
        # the directory and the subblock-embedded entries
        buf = bytearray(open(p, "rb").read())
        i = 0
        while True:
            i = buf.find(b"S\x00\x00\x00", i)
            if i < 0:
                break
            (s,) = struct.unpack_from("<i", buf, i + 4)
            struct.pack_into("<i", buf, i + 4, s + 5)
            i += 4
        i = 0
        while True:
            i = buf.find(b"M\x00\x00\x00", i)
            if i < 0:
                break
            (m,) = struct.unpack_from("<i", buf, i + 4)
            struct.pack_into("<i", buf, i + 4, m + 3)
            i += 4
        # scene XML Index must track the S start too
        data = bytes(buf).replace(b'Index="0"', b'Index="5"')
        open(p, "wb").write(data)
        names, ntiles = zisraw.scene_inventory(p)
        assert names == ["exported"] and ntiles == {"exported": 2}
        assert np.array_equal(zisraw.fetch_tile(p, "exported", 0), tiles[0])
        assert np.array_equal(zisraw.fetch_tile(p, "exported", 1), tiles[1])

    def test_pyramid_and_extra_dims_fail_fast(self, tmp_path):
        import struct

        import numpy as np
        import pytest

        from scip_spark.sources import zisraw

        p = str(tmp_path / "pyr.czi")
        zisraw.write_czi(p, {"S0": [np.zeros((1, 4, 4), dtype=np.uint8)]})
        buf = bytearray(open(p, "rb").read())
        dir_pos, _ = struct.unpack_from("<qq", buf, 32 + 16 + 32 + 4)
        entry = dir_pos + 32 + 4 + 124
        buf[entry + 22] = 1  # PyramidType = single-subblock pyramid
        open(p, "wb").write(bytes(buf))
        with pytest.raises(ValueError, match="pyramidal"):
            zisraw.fetch_tile(p, 0, 0)

    def test_default_reader_is_wired_into_attach_pixels(self, spark, tmp_path):
        """czi_attach_pixels with NO reader argument decodes real
        container bytes (review r15: default_czi_reader existed but
        was never the default)."""
        import numpy as np

        from scip_spark.sources import zisraw
        from scip_spark.sources.filescan import czi_attach_pixels, czi_meta

        tile = (np.arange(2 * 3 * 4) % 251).astype(np.uint8).reshape(2, 3, 4)
        p = str(tmp_path / "wired.czi")
        zisraw.write_czi(p, {"A": [tile]})
        meta = czi_meta(spark, p, ["A"], {"A": 1})
        out = czi_attach_pixels(meta).toPandas()
        assert list(out.pixels_shape[0]) == [2, 3, 4]
        assert np.allclose(
            np.array(out.pixels[0]).reshape(2, 3, 4), tile
        )
