"""Shared fixtures: one local SparkSession + the reference's canonical
synthetic image events (reference test/conftest.py:29-86 semantics —
10 records, 3 channels of the 10×10 arange tile, full/partial masks,
groups one/two split 5/5)."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

try:  # reproducible property tests: a green run means green for everyone
    from hypothesis import settings as _hyp_settings

    _hyp_settings.register_profile("repro", derandomize=True)
    _hyp_settings.load_profile("repro")
except ImportError:  # pragma: no cover
    pass

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scip_spark.schema import EVENT_SCHEMA, events_to_pandas  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from scip_spark.session import get_spark

    s = get_spark("scip-spark-tests", master="local[4]", shuffle_partitions=8,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def make_events(masked: str = "full") -> list[dict]:
    """10 records; channel tile = arange(100).reshape(10,10); masks
    full or border-eroded (rows/cols 0,1,-1,-2 false)."""
    tile = np.arange(100, dtype=np.float32).reshape(10, 10)
    pixels = np.stack([tile, tile, tile])
    if masked == "full":
        mask = np.ones((3, 10, 10), dtype=bool)
    else:
        m = np.ones((10, 10), dtype=bool)
        m[[0, 1, -1, -2], :] = False
        m[:, [0, 1, -1, -2]] = False
        mask = np.stack([m, m, m])
    events = []
    for i in range(10):
        events.append(
            {
                "path": f"/synthetic/img_{i}.tiff",
                "group": "one" if i < 5 else "two",
                "object_number": i,
                "id": 0,
                "pixels": pixels.copy(),
                "mask": mask.copy(),
                "combined_mask": mask[0].copy(),
                "background": [0.0, 0.0, 0.0],
                "combined_background": [0.0, 0.0, 0.0],
                "bbox": [2, 2, 8, 8],
                "regions": [1, 1, 1],
            }
        )
    return events


@pytest.fixture(scope="session")
def full_events_df(spark):
    return spark.createDataFrame(events_to_pandas(make_events("full")), schema=EVENT_SCHEMA)


@pytest.fixture(scope="session")
def partial_events_df(spark):
    return spark.createDataFrame(events_to_pandas(make_events("partial")), schema=EVENT_SCHEMA)


SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def tiff_fixture_meta(spark):
    """The cached metadata scan of the committed ten-file TIFF fixture
    (five 2-channel 10×13 records, one codec/layout per file), as the
    CLI and the benchmark load it (``load_meta_union`` caches)."""
    from scip_spark.sources.filescan import load_meta_union, tiff_meta

    root = Path(__file__).resolve().parent.parent / "scip_spark" / "fixtures" / "tiff"
    regex = r"^.*/(?P<rec>[a-z])_(?P<channel>[0-9])\.tiff$"
    meta = load_meta_union([tiff_meta(spark, str(root), regex, channels=["0", "1"])])
    yield meta
    meta.unpersist()


@pytest.fixture
def tiff_fixture_config():
    """The benchmark's fused otsu+li imaging config, sized for the TIFF
    fixture's two channels."""
    return {
        "illumination_correction": {"key": "group"},
        "segment": {"backend": "watershed", "parent_channel": 0},
        "mask": {"methods": ["otsu", "li"], "main_channel": 0},
        "filter": {"channel": 0},
        "normalization": {"key": "group"},
        "feature_extraction": {"nchannels": 2, "families": None},
    }
