"""Seeded input generation for the three benchmark workloads.

Every generator is a pure function of ``(seed, index)``, so the
correctness checks can regenerate any record's exact array later and
compare it with what the engine decoded. Inputs are written from this
single process with the engine's own writers (``sources.tiffio`` and
``sources.zarrio``) and cached on disk by workload, seed and size, so a
second run with the same seed reuses them. Generation always happens
outside every timed window.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

# ---- sizes (records per run; see README.md for how they were chosen) ----
TIFF_EVENTS = 240        # three-channel 32x32 events -> 720 LZW TIFFs
TIFF_SIDE = 32
TIFF_CHANNELS = 3
TIFF_GROUPS = 4          # acquisition groups (illumination / normalization key)

FOV_FRAMES = 8           # two-channel 256x256 fields of view
FOV_SIDE = 256
FOV_CHANNELS = 2
FOV_WELLS = 4            # one Blosc-LZ4 zarr store per well
FOV_CELLS = 25           # cells placed per field of view

DOC_BASE = 800           # base documents before planted duplicates
DOC_FILES = 8            # parquet part files (the scan's input splits)

WORKLOAD_NAMES = ["imaging_tiff", "imaging_fov", "curation_dedup"]
#: the seed whose outputs perfbench/expected.json pins
DEFAULT_SEED = 0

# where generated inputs, exports and Spark scratch space live, relative
# to the checkout root; listed in .gitignore
WORK_DIR = ".perfbench_work"


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def _blobs(rng, side, n, sigma_lo, sigma_hi, margin):
    """(cy, cx, sigma, amp) for ``n`` Gaussian blobs."""
    cy = rng.uniform(margin, side - margin, size=n)
    cx = rng.uniform(margin, side - margin, size=n)
    sigma = rng.uniform(sigma_lo, sigma_hi, size=n)
    amp = rng.uniform(80.0, 150.0, size=n)
    return cy, cx, sigma, amp


def _render(rng, side, blobs):
    yy, xx = np.mgrid[0:side, 0:side]
    img = rng.normal(10.0, 2.0, size=(side, side))
    for cy, cx, sigma, amp in zip(*blobs):
        img += amp * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * sigma**2))
    return img


def _to_u16(img: np.ndarray) -> np.ndarray:
    return np.clip(np.rint(img), 0, 65535).astype(np.uint16)


# ---------------------------------------------------------------------------
# imaging_tiff: one LZW TIFF per (event, channel)
# ---------------------------------------------------------------------------


def tiff_event(seed: int, idx: int) -> np.ndarray:
    """C x H x W uint16 event ``idx``: noisy background plus 1-3 bright
    blobs, seen by three channels under different gains."""
    rng = _rng(seed, 1, idx)
    base = _render(rng, TIFF_SIDE, _blobs(rng, TIFF_SIDE, int(rng.integers(1, 4)), 2.0, 3.5, 6))
    gains = ((1.0, 0.0), (0.8, 1.0), (1.2, 0.0))
    return np.stack([_to_u16(base * g + o) for g, o in gains])


def tiff_blobs(seed: int, idx: int) -> int:
    """Blobs drawn into event ``idx`` (the first draw of its generator)."""
    return int(_rng(seed, 1, idx).integers(1, 4))


def tiff_path(root: str, idx: int, channel: int) -> str:
    return os.path.join(root, f"g{idx % TIFF_GROUPS}", f"ev{idx:05d}_{channel}.tiff")


#: tiff_meta regex: acquisition group from the directory, record id and
#: channel from the file name
TIFF_REGEX = r"^.*/(?P<group>g[0-9]+)/(?P<rec>ev[0-9]+)_(?P<channel>[0-9])\.tiff$"


def _write_tiffs(seed: int, root: str) -> dict:
    from scip_spark.sources.tiffio import write_tiff

    for idx in range(TIFF_EVENTS):
        for c, plane in enumerate(tiff_event(seed, idx)):
            p = tiff_path(root, idx, c)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            write_tiff(p, plane, compression="lzw", predictor=2)
    return {"records": TIFF_EVENTS, "files": TIFF_EVENTS * TIFF_CHANNELS}


# ---------------------------------------------------------------------------
# imaging_fov: one zarr group per well, one member array per field of view
# ---------------------------------------------------------------------------


def fov_frame(seed: int, idx: int) -> np.ndarray:
    """C x 256 x 256 uint16 field of view with FOV_CELLS cells at random
    positions (rejection-sampled to keep centres a cell apart, so some
    neighbours touch and the watershed has to split them)."""
    rng = _rng(seed, 2, idx)
    centres: list[tuple[float, float]] = []
    while len(centres) < FOV_CELLS:
        cy, cx = rng.uniform(12, FOV_SIDE - 12, size=2)
        if all((cy - y) ** 2 + (cx - x) ** 2 >= 18.0**2 for y, x in centres):
            centres.append((cy, cx))
    cy, cx = np.array(centres).T
    sigma = rng.uniform(3.5, 5.5, FOV_CELLS)
    amp = rng.uniform(80.0, 150.0, FOV_CELLS)
    nucleus = _render(rng, FOV_SIDE, (cy, cx, sigma, amp))
    body = _render(rng, FOV_SIDE, (cy, cx, sigma * 1.6, amp * 0.5))
    return np.stack([_to_u16(nucleus), _to_u16(body)])


def fov_store(root: str, well: int) -> str:
    return os.path.join(root, "plate0", f"well{well}.zarr")


#: zarr_meta regex: the plate is the acquisition group (the illumination
#: and normalization key), so the correction image averages every field
FOV_REGEX = r"^.*/(?P<group>plate[0-9]+)/well[0-9]+\.zarr$"


def fov_members(well: int) -> list[int]:
    """Global frame indices stored in ``well`` (member i of the store is
    the i-th of these)."""
    return list(range(well, FOV_FRAMES, FOV_WELLS))


def _write_fovs(seed: int, root: str) -> dict:
    from scip_spark.sources.zarrio import write_group

    for w in range(FOV_WELLS):
        frames = [fov_frame(seed, i) for i in fov_members(w)]
        write_group(fov_store(root, w), frames, compressor="blosc-lz4")
    return {"records": FOV_FRAMES, "stores": FOV_WELLS}


# ---------------------------------------------------------------------------
# curation_dedup: a document corpus with planted exact and near duplicates
# ---------------------------------------------------------------------------

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su",
    "da", "fo", "gi", "ha", "jo", "ku", "li", "mo", "ni", "po",
]


def _vocab() -> list[str]:
    """600 fixed pseudo-words (seed-independent, so every seed draws
    from the same vocabulary)."""
    rng = np.random.default_rng(7)
    words: set[str] = set()
    while len(words) < 600:
        n = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLLABLES, size=n)))
    return sorted(words)


def _corpus(seed: int) -> list[tuple[str, str, int, str, str]]:
    """Base documents plus planted copies, shuffled, as
    ``(text, lang, family, role, quality)`` in doc_id order.

    4% of base documents are too short for the quality floor and 3%
    carry no language marker; 10% get two near-duplicate copies and 10%
    one (1-3 token substitutions each), and 5% an exact copy that differs
    only in case and spacing. The shares are exact, so every seed makes
    ``DOC_BASE * 1.35`` documents; the seed decides which documents are
    copied, and how. ``family`` is the base document's index, ``role`` is
    ``base``, ``near`` or ``exact``, and ``quality`` is the base
    document's: ``short``, ``unmarked`` or ``good``. Copies inherit it,
    since substitutions draw from the marker-free vocabulary and keep the
    length."""
    from scip_spark.functions.text import LANG_MARKERS

    vocab = _vocab()
    langs = list(LANG_MARKERS)
    rng = _rng(seed, 3)
    # a base document's rank in two seeded orders sets its quality and
    # its copies, as exact shares of DOC_BASE
    quality_rank = rng.permutation(DOC_BASE) * 100
    copy_rank = rng.permutation(DOC_BASE) * 100
    texts: list[tuple[str, str, int, str, str]] = []
    for b in range(DOC_BASE):
        lang = langs[int(rng.integers(len(langs)))]
        q = quality_rank[b]
        quality = "short" if q < 4 * DOC_BASE else "unmarked" if q < 7 * DOC_BASE else "good"
        n = int(rng.integers(3, 10)) if quality == "short" else int(rng.integers(20, 90))
        words = list(rng.choice(vocab, size=n))
        if quality != "unmarked":
            markers = LANG_MARKERS[lang]
            for pos in rng.choice(n, size=max(1, n // 8), replace=False):
                words[pos] = markers[int(rng.integers(len(markers)))]
        texts.append((" ".join(words), lang, b, "base", quality))
    planted: list[tuple[str, str, int, str, str]] = []
    for text, lang, b, _, quality in texts:
        c = copy_rank[b]
        if c < 20 * DOC_BASE:
            for _ in range(2 if c < 10 * DOC_BASE else 1):
                words = text.split(" ")
                for pos in rng.choice(len(words), size=min(len(words), int(rng.integers(1, 4))), replace=False):
                    words[pos] = vocab[int(rng.integers(len(vocab)))]
                planted.append((" ".join(words), lang, b, "near", quality))
        elif c < 25 * DOC_BASE:
            planted.append(("  " + text.upper().replace(" ", "  ") + " ", lang, b, "exact", quality))
    corpus = texts + planted
    return [corpus[j] for j in rng.permutation(len(corpus))]


def doc_families(seed: int) -> list[tuple[int, str, str]]:
    """``(family, role, quality)`` of every document, indexed by doc_id:
    what the curation check compares the survivors with."""
    return [c[2:] for c in _corpus(seed)]


def _docs(seed: int) -> list[dict]:
    return [
        {
            "doc_id": i,
            "text": text,
            "lang": lang,
            "source": f"src{family % 5}",
            "n_chars": len(text),
        }
        for i, (text, lang, family, _, _) in enumerate(_corpus(seed))
    ]


def _write_docs(seed: int, root: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = _docs(seed)
    table = pa.Table.from_pylist(docs)
    os.makedirs(root, exist_ok=True)
    per = (len(docs) + DOC_FILES - 1) // DOC_FILES
    for f in range(DOC_FILES):
        pq.write_table(table.slice(f * per, per), os.path.join(root, f"part-{f:02d}.parquet"))
    return {"records": len(docs), "files": DOC_FILES}


# ---------------------------------------------------------------------------

_GENERATORS = {
    "imaging_tiff": (_write_tiffs, f"n{TIFF_EVENTS}x{TIFF_CHANNELS}x{TIFF_SIDE}"),
    "imaging_fov": (_write_fovs, f"n{FOV_FRAMES}x{FOV_CHANNELS}x{FOV_SIDE}c{FOV_CELLS}"),
    "curation_dedup": (_write_docs, f"n{DOC_BASE}f{DOC_FILES}"),
}


def ensure_inputs(checkout: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``workload`` at ``seed``.

    Returns the input directory and its manifest. The directory is
    built under a temporary name and renamed into place, so an
    interrupted generation is never mistaken for a complete one."""
    write, size = _GENERATORS[workload]
    base = os.path.join(checkout, WORK_DIR, "inputs")
    final = os.path.join(base, f"{workload}-seed{seed}-{size}")
    manifest_path = os.path.join(final, "_manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return final, json.load(f)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = dict(write(seed, tmp), workload=workload, seed=seed, size=size)
    with open(os.path.join(tmp, "_manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, final)
    return final, manifest
