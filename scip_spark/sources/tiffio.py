"""Minimal pure-Python baseline-TIFF codec (VERDICT r12 #4).

The container has no tifffile/aicsimageio, so until r13 the S4/S5 pixel
paths (reference test/loading/test_tiff.py:6-21 reads actual files)
only ever ran against injected fakes — a byte-order or frame-seek bug
in a real deployment would have passed every test. This module is a
REAL decoder for the single-sample subset of TIFF 6.0
(both byte orders, uint8/16/32 + int8/16/32 + float32/64, multi-strip,
multi-frame IFD chains, and — since r14 — strip compression: Deflate
(codes 8/32946, via stdlib zlib — the externally-validated codec),
PackBits (32773, pinned to the canonical Apple TN1023 vector) and TIFF
LZW (5: MSB-first variable 9→12-bit codes with the spec's early-change
rule; decode pinned to a hand-derived bit-level vector, encode/decode
round-trip property-swept) plus the horizontal-differencing predictor
(tag 317 = 2) for integer samples. Small enough to audit, used as the
default `reader=` for `attach_pixels` when tifffile is absent. The
TILED layout (TIFF 6.0 §15, per-tile predictor restart) decodes too;
production deployments with still-exotic TIFFs (JPEG, multi-sample
RGB) inject `tifffile.imread` exactly as before.

The encoder exists so tests can round-trip REAL bytes through the
decode path; it writes strip-per-rows_per_strip frames with optional
compression/predictor, which every TIFF reader (including this one)
accepts.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# TIFF 6.0 tag ids (the baseline-grayscale subset)
_IMAGE_WIDTH = 256
_IMAGE_LENGTH = 257
_BITS_PER_SAMPLE = 258
_COMPRESSION = 259
_PHOTOMETRIC = 262
_STRIP_OFFSETS = 273
_SAMPLES_PER_PIXEL = 277
_PLANAR_CONFIG = 284
_JPEG_TABLES = 347
_ROWS_PER_STRIP = 278
_STRIP_BYTE_COUNTS = 279
_SAMPLE_FORMAT = 339

#: TIFF field type -> (struct code, byte size); the subset we emit/read.
#: BYTE(1)/UNDEFINED(7) matter on the READ side: libtiff writes
#: JPEGTables (tag 347) as UNDEFINED, and dropping it silently killed
#: the abbreviated-stream JPEG path (review r15 #1)
_FIELD_TYPES = {1: ("B", 1), 3: ("H", 2), 4: ("I", 4), 7: ("B", 1)}

_PREDICTOR = 317
_TILE_WIDTH = 322
_TILE_LENGTH = 323
_TILE_OFFSETS = 324
_TILE_BYTE_COUNTS = 325

_SAMPLE_FMT_UINT = 1
_SAMPLE_FMT_INT = 2
_SAMPLE_FMT_FLOAT = 3

#: compression codes this codec implements (TIFF 6.0 §7 + TTN2 deflate)
_COMP_NONE = 1
_COMP_LZW = 5
_COMP_JPEG = 7
_COMP_DEFLATE_ADOBE = 8
_COMP_PACKBITS = 32773
_COMP_DEFLATE_OLD = 32946
_COMPRESSORS = {
    "none": _COMP_NONE,
    "lzw": _COMP_LZW,
    "deflate": _COMP_DEFLATE_ADOBE,
    "packbits": _COMP_PACKBITS,
}


# ---------------------------------------------------------------------------
# strip codecs
# ---------------------------------------------------------------------------


def _packbits_decode(data: bytes) -> bytes:
    """Apple PackBits RLE (TIFF 6.0 §9 / TN1023): n in [0,127] = n+1
    literal bytes follow; n in [-127,-1] = repeat next byte 1-n times;
    -128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        h = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if h >= 0:
            out += data[i : i + h + 1]
            i += h + 1
        elif h != -128:
            out += data[i : i + 1] * (1 - h)
            i += 1
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits encoder: runs of ≥3 become repeats, the rest
    literal blocks (≤128 either way)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit0 = i
        while i < n and i - lit0 < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out += bytes([i - lit0 - 1]) + data[lit0:i]
    return bytes(out)


#: the LZW string table right after a Clear: the 256 single bytes, then
#: placeholders for ClearCode and EOI (never looked up as data)
_LZW_ROOT: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, codes
    grow 9→12 bits with the EARLY-CHANGE rule (width bumps when the
    table reaches 2^width − 1), ClearCode 256 / EOI 257.

    The hot loop keeps the table size, width and mask in locals and
    refills the bit accumulator two bytes at a time, masked to the
    bits still unread so it never grows."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table = _LZW_ROOT.copy()
    size, width, mask = 258, 9, 511
    prev: bytes | None = None
    acc = nbits = pos = 0
    n = len(data)
    while True:
        if nbits < width:  # nbits < 12 here, so 16 more always suffice
            if pos + 1 < n:
                acc = (acc << 16) | (data[pos] << 8) | data[pos + 1]
                pos += 2
                nbits += 16
            elif pos < n:
                acc = (acc << 8) | data[pos]
                pos += 1
                nbits += 8
                if nbits < width:
                    return bytes(out)  # stream ended without EOI: tolerate
            else:
                return bytes(out)  # stream ended without EOI: tolerate
        nbits -= width
        code = (acc >> nbits) & mask
        acc &= (1 << nbits) - 1
        if code == CLEAR:
            table = _LZW_ROOT.copy()
            size, width, mask = 258, 9, 511
            prev = None
            continue
        if code == EOI:
            return bytes(out)
        if prev is None:
            if code >= 256:
                raise ValueError("corrupt LZW stream (first code >= 256)")
            entry = table[code]
        elif code < size:
            entry = table[code]
            table.append(prev + entry[:1])
            size += 1
        elif code == size:
            entry = prev + prev[:1]
            table.append(entry)
            size += 1
        else:
            raise ValueError("corrupt LZW stream (code beyond table)")
        out += entry
        prev = entry
        if size == mask and width < 12:
            width += 1
            mask = (1 << width) - 1


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder, the exact mirror of :func:`_lzw_decode`
    (early change on the same table-size boundary; Clear emitted at the
    spec's 4094-entry limit)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1  # keep exactly the undrained bits

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width, n_codes = 258, 9, 0
    emit(CLEAR, width)

    def bump_if_decoder_widened() -> None:
        # mirror the decoder exactly: it appends one table entry for
        # every data code AFTER the first since the last Clear, so its
        # size after the n-th code is 258 + max(0, n-1); it widens when
        # that hits 2^width - 1 — and that widening applies to the NEXT
        # code it reads, INCLUDING EOI (the r14 review's confirmed bug:
        # the final flushed code can trigger the widening even though
        # the encoder adds no entry for it, so EOI emitted at the stale
        # width desynchronized strict decoders)
        nonlocal width
        if 258 + max(0, n_codes - 1) == (1 << width) - 1 and width < 12:
            width += 1

    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        n_codes += 1
        table[wc] = next_code
        next_code += 1
        bump_if_decoder_widened()
        if next_code == 4094:  # spec limit: clear and restart
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width, n_codes = 258, 9, 0
        w = bytes([byte])
    if w:
        emit(table[w], width)
        n_codes += 1
        bump_if_decoder_widened()
    emit(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _decompress_strip(chunk: bytes, comp: int, path: str) -> bytes:
    if comp == _COMP_NONE:
        return chunk
    if comp in (_COMP_DEFLATE_ADOBE, _COMP_DEFLATE_OLD):
        return zlib.decompress(chunk)
    if comp == _COMP_PACKBITS:
        return _packbits_decode(chunk)
    if comp == _COMP_LZW:
        return _lzw_decode(chunk)
    raise ValueError(f"unsupported TIFF compression {comp}: {path}")


def _compress_strip(raw: bytes, comp: int) -> bytes:
    if comp == _COMP_NONE:
        return raw
    if comp == _COMP_DEFLATE_ADOBE:
        return zlib.compress(raw)
    if comp == _COMP_PACKBITS:
        return _packbits_encode(raw)
    if comp == _COMP_LZW:
        return _lzw_encode(raw)
    raise ValueError(f"unsupported compression code {comp}")

_FMT_TO_KIND = {_SAMPLE_FMT_UINT: "u", _SAMPLE_FMT_INT: "i", _SAMPLE_FMT_FLOAT: "f"}
_KIND_TO_FMT = {v: k for k, v in _FMT_TO_KIND.items()}


def _read_ifd(buf: bytes, off: int, en: str) -> tuple[dict[int, list[int]], int]:
    """One IFD at ``off``: {tag: [values...]}, plus next-IFD offset."""
    (n_entries,) = struct.unpack_from(en + "H", buf, off)
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        base = off + 2 + 12 * i
        tag, ftype, count = struct.unpack_from(en + "HHI", buf, base)
        if ftype not in _FIELD_TYPES:
            continue  # rational/ascii tags are irrelevant to pixel decode
        code, size = _FIELD_TYPES[ftype]
        total = size * count
        if total <= 4:
            vals = list(struct.unpack_from(en + code * count, buf, base + 8))
        else:
            (ptr,) = struct.unpack_from(en + "I", buf, base + 8)
            vals = list(struct.unpack_from(en + code * count, buf, ptr))
        tags[tag] = vals
    (nxt,) = struct.unpack_from(en + "I", buf, off + 2 + 12 * n_entries)
    return tags, nxt


def _decode_jpeg_frame(buf: bytes, tags: dict, path: str) -> np.ndarray:
    """New-style TIFF JPEG (compression 7): every strip is a complete
    baseline JPEG stream; abbreviated streams carry their quant/huffman
    tables in the JPEGTables tag (347) — spliced between the strip's
    SOI and its first segment, the standard TIFF/EP merge. Decoded by
    the pure-Python baseline codec (sources/jpegio.py); strips stack
    vertically and crop to the declared frame size. Tiled JPEG stays
    injected-reader territory."""
    from scip_spark.sources import jpegio

    if _TILE_OFFSETS in tags:
        raise ValueError(f"tiled JPEG TIFF needs an injected reader: {path}")
    if tags.get(_PLANAR_CONFIG, [1])[0] != 1:
        # planar JPEG stores one stream per channel plane; concatenating
        # them on axis 0 would silently return plane 0 only (review r15)
        raise ValueError(f"planar JPEG TIFF needs an injected reader: {path}")
    if tags.get(_PHOTOMETRIC, [6])[0] == 2:
        # photometric RGB means the JPEG scan is raw RGB, not YCbCr —
        # our decoder would apply a bogus color conversion
        raise ValueError(f"RGB-in-JPEG TIFF needs an injected reader: {path}")
    height = tags[_IMAGE_LENGTH][0]
    width = tags[_IMAGE_WIDTH][0]
    offsets = tags[_STRIP_OFFSETS]
    counts = tags.get(_STRIP_BYTE_COUNTS)
    if counts is None:
        raise ValueError(f"JPEG TIFF missing StripByteCounts: {path}")
    jtables = tags.get(_JPEG_TABLES)
    prefix = b""
    if jtables:
        tb = bytes(jtables)
        if tb[:2] != b"\xff\xd8" or tb[-2:] != b"\xff\xd9":
            raise ValueError(f"malformed JPEGTables: {path}")
        prefix = tb[2:-2]  # tables between SOI and EOI
    parts = []
    for o, c in zip(offsets, counts):
        stream = bytes(buf[o : o + c])
        if stream[:2] != b"\xff\xd8":
            raise ValueError(f"JPEG strip missing SOI: {path}")
        if prefix:
            stream = stream[:2] + prefix + stream[2:]
        parts.append(jpegio.decode(stream))
    frame = parts[0] if len(parts) == 1 else np.concatenate(parts, axis=0)
    if frame.shape[0] < height or frame.shape[1] < width:
        raise ValueError(
            f"JPEG strips decode to {frame.shape}, smaller than "
            f"{height}x{width}: {path}"
        )
    return frame[:height, :width]


def read_tiff(path: str) -> np.ndarray:
    """Decode a striped TIFF (compression none/deflate/packbits/lzw;
    predictor 1/2; SamplesPerPixel ≥ 1 in chunky OR planar
    configuration — r15). Returns, per tifffile convention, a 2-D
    (H, W) array for single-sample single-frame files, (H, W, S) for
    multi-sample, and a stacked first axis for multi-frame IFD chains
    (frame = IFD, the layout multiframe_tiff_meta expects — reference
    tiff.py loads frames as channels). Tiled multi-sample remains
    injected-reader territory."""
    with open(path, "rb") as f:
        buf = f.read()
    order = buf[:2]
    if order == b"II":
        en = "<"
    elif order == b"MM":
        en = ">"
    else:
        raise ValueError(f"not a TIFF (bad byte-order mark {order!r}): {path}")
    (magic,) = struct.unpack_from(en + "H", buf, 2)
    if magic != 42:
        raise ValueError(f"not a classic TIFF (magic {magic}): {path}")
    (ifd_off,) = struct.unpack_from(en + "I", buf, 4)
    frames = []
    while ifd_off:
        tags, ifd_off = _read_ifd(buf, ifd_off, en)
        comp = tags.get(_COMPRESSION, [1])[0]
        if comp not in (
            _COMP_NONE, _COMP_LZW, _COMP_DEFLATE_ADOBE,
            _COMP_DEFLATE_OLD, _COMP_PACKBITS, _COMP_JPEG,
        ):
            raise ValueError(
                f"TIFF compression {comp} needs an injected reader: {path}"
            )
        if comp == _COMP_JPEG:
            frames.append(_decode_jpeg_frame(buf, tags, path))
            continue
        nsamp = tags.get(_SAMPLES_PER_PIXEL, [1])[0]
        planar = tags.get(_PLANAR_CONFIG, [1])[0]
        if nsamp < 1 or planar not in (1, 2):
            raise ValueError(
                f"bad SamplesPerPixel/PlanarConfiguration {nsamp}/{planar}: {path}"
            )
        width = tags[_IMAGE_WIDTH][0]
        height = tags[_IMAGE_LENGTH][0]
        bps = tags.get(_BITS_PER_SAMPLE, [8])
        if len(set(bps)) != 1:
            # heterogeneous per-sample bit depths (legal but exotic)
            raise ValueError(f"mixed BitsPerSample {bps} needs an injected reader: {path}")
        bits = bps[0]
        fmt = tags.get(_SAMPLE_FORMAT, [_SAMPLE_FMT_UINT])[0]
        kind = _FMT_TO_KIND.get(fmt)
        if kind is None or bits % 8:
            raise ValueError(f"unsupported sample format {fmt}/{bits}: {path}")
        dtype = np.dtype(f"{en}{kind}{bits // 8}")
        pred = tags.get(_PREDICTOR, [1])[0]
        if pred not in (1, 2):
            raise ValueError(f"unsupported TIFF predictor {pred}: {path}")
        if pred == 2 and kind == "f":
            raise ValueError(f"predictor 2 on float samples: {path}")

        if _TILE_OFFSETS in tags:
            if nsamp != 1:
                raise ValueError(
                    f"tiled multi-sample TIFF needs an injected reader: {path}"
                )
            # tiled layout (TIFF 6.0 §15): row-major grid of
            # independently-compressed tw×th blocks, edge tiles padded
            # to full tile size; the predictor restarts at every tile's
            # left edge (tiles compress as independent blocks)
            if _TILE_WIDTH not in tags or _TILE_LENGTH not in tags:
                raise ValueError(f"tiled TIFF missing TileWidth/TileLength: {path}")
            if _TILE_BYTE_COUNTS not in tags:
                raise ValueError(f"tiled TIFF missing TileByteCounts: {path}")
            tw = tags[_TILE_WIDTH][0]
            th = tags[_TILE_LENGTH][0]
            t_offs = tags[_TILE_OFFSETS]
            t_cnts = tags[_TILE_BYTE_COUNTS]
            across = (width + tw - 1) // tw
            down = (height + th - 1) // th
            if len(t_offs) != across * down or len(t_cnts) != len(t_offs):
                # a zip() over mismatched lists would silently leave
                # missing tiles as zeros — fail loudly instead
                raise ValueError(
                    f"tile offsets/counts {len(t_offs)}/{len(t_cnts)} != "
                    f"grid {across}x{down}: {path}"
                )
            frame = np.zeros((height, width), dtype=dtype)
            for ti, (o, c) in enumerate(zip(t_offs, t_cnts)):
                chunk = _decompress_strip(buf[o : o + c], comp, path)
                tile = np.frombuffer(chunk, dtype=dtype, count=tw * th)
                tile = tile.reshape(th, tw)
                if pred == 2:
                    tile = np.cumsum(tile.astype(np.int64), axis=1).astype(dtype)
                r0 = (ti // across) * th
                c0 = (ti % across) * tw
                h_eff = min(th, height - r0)
                w_eff = min(tw, width - c0)
                frame[r0 : r0 + h_eff, c0 : c0 + w_eff] = tile[:h_eff, :w_eff]
            frames.append(frame)
            continue

        offsets = tags[_STRIP_OFFSETS]
        counts = tags.get(_STRIP_BYTE_COUNTS)
        if counts is None:
            # defaulting is only sound for a single full-frame strip; a
            # multi-strip file without byte counts would silently decode
            # from the first strip only (ADVICE r13) — fail loudly
            if len(offsets) > 1:
                raise ValueError(
                    f"multi-strip TIFF missing StripByteCounts: {path}"
                )
            counts = [height * width * nsamp * dtype.itemsize]
        rps_tag = tags.get(_ROWS_PER_STRIP)
        # chunky rows interleave all samples; planar strips carry ONE
        # sample's rows (TIFF 6.0: with PlanarConfiguration 2 the strip
        # list is plane-major — all of sample 0's strips, then sample 1)
        row_bytes = width * dtype.itemsize * (nsamp if planar == 1 else 1)
        strips_per_plane = len(offsets) // nsamp if planar == 2 else len(offsets)
        if planar == 2 and (
            nsamp * strips_per_plane != len(offsets)
            or (rps_tag is None and strips_per_plane != 1)
        ):
            raise ValueError(
                f"planar strip count {len(offsets)} not divisible into "
                f"{nsamp} planes (or missing RowsPerStrip): {path}"
            )
        parts = []
        for i, (o, c) in enumerate(zip(offsets, counts)):
            chunk = _decompress_strip(buf[o : o + c], comp, path)
            if rps_tag is not None:
                # compressed strips may decode with trailing pad; exact
                # or longer is fine, shorter fails the frombuffer count
                row_in_plane = (i % strips_per_plane) * rps_tag[0]
                nrows = min(rps_tag[0], height - row_in_plane)
                chunk = chunk[: nrows * row_bytes]
            # no RowsPerStrip tag: trust the byte counts and concatenate
            # (the pre-r14 behavior — a multi-strip file without the tag
            # decoded fine and must keep doing so; the frombuffer count
            # still enforces the total)
            parts.append(chunk)
        raw = b"".join(parts)
        frame = np.frombuffer(raw, dtype=dtype, count=height * width * nsamp)
        if nsamp == 1:
            frame = frame.reshape(height, width)
            if pred == 2:
                # horizontal differencing: rows accumulate left-to-right
                # (strip rows are full-width, so frame-level cumsum is
                # the per-strip result); int64 cumsum then cast back =
                # exact modular wraparound
                frame = np.cumsum(frame.astype(np.int64), axis=1).astype(dtype)
        elif planar == 1:
            # chunky: RGBRGB… rows; predictor 2 differences each sample
            # against the SAME sample of the previous pixel (TIFF 6.0
            # §14), so accumulate along the pixel axis after deinterleave
            frame = frame.reshape(height, width, nsamp)
            if pred == 2:
                frame = np.cumsum(frame.astype(np.int64), axis=1).astype(dtype)
        else:
            # planar: plane-major buffer → (S, H, W) → (H, W, S); the
            # predictor runs within each plane's rows
            frame = frame.reshape(nsamp, height, width)
            if pred == 2:
                frame = np.cumsum(frame.astype(np.int64), axis=2).astype(dtype)
            frame = np.transpose(frame, (1, 2, 0))
        frames.append(frame)
    if not frames:
        raise ValueError(f"TIFF has no IFDs: {path}")
    return frames[0] if len(frames) == 1 else np.stack(frames)


def _hdiff(a: np.ndarray, dtype) -> np.ndarray:
    """Horizontal differencing (predictor 2) with exact modular wrap."""
    d = a.astype(np.int64)
    d[:, 1:] = d[:, 1:] - d[:, :-1]
    return d.astype(dtype)


class _IfdEntries:
    """Shared IFD entry builders for BOTH TIFF writers (review r15 #7
    — write_tiff and _write_jpeg_tiff previously carried identical
    copies of the inline/overflow layout rules): values that fit in the
    4-byte inline cell are packed there, longer arrays append to the
    overflow area at absolute offset ``overflow_off + len(overflow)``."""

    def __init__(self, en: str, overflow_off: int):
        self.en = en
        self.overflow = bytearray()
        self.off = overflow_off

    def entry(self, tag: int, ftype: int, count: int, value: int) -> bytes:
        code, _ = _FIELD_TYPES[ftype]
        inline = struct.pack(self.en + code, value)
        return struct.pack(self.en + "HHI", tag, ftype, count) + inline.ljust(
            4, b"\0"
        )

    def array(self, tag: int, values: list[int]) -> bytes:
        if len(values) == 1:
            return self.entry(tag, 4, 1, values[0])
        ptr = self.off + len(self.overflow)
        self.overflow.extend(struct.pack(self.en + "I" * len(values), *values))
        return self.entry(tag, 4, len(values), ptr)  # inline cell = pointer

    def shorts(self, tag: int, values: list[int]) -> bytes:
        # SHORT array (e.g. per-sample BitsPerSample): ≤2 values fit
        # inline, longer arrays go to the overflow area
        if len(values) * 2 <= 4:
            inline = struct.pack(self.en + "H" * len(values), *values)
            return (
                struct.pack(self.en + "HHI", tag, 3, len(values))
                + inline.ljust(4, b"\0")
            )
        ptr = self.off + len(self.overflow)
        self.overflow.extend(struct.pack(self.en + "H" * len(values), *values))
        return struct.pack(self.en + "HHI", tag, 3, len(values)) + struct.pack(
            self.en + "I", ptr
        )

    def undefined(self, tag: int, blob: bytes) -> bytes:
        # type 7 (UNDEFINED) byte payload, overflow-stored; pad to keep
        # offsets word-aligned
        ptr = self.off + len(self.overflow)
        self.overflow.extend(blob)
        if len(blob) & 1:
            self.overflow.append(0)
        return struct.pack(self.en + "HHI", tag, 7, len(blob)) + struct.pack(
            self.en + "I", ptr
        )


def write_tiff(
    path: str,
    array: np.ndarray,
    byteorder: str = "<",
    compression: str = "none",
    predictor: int = 1,
    rows_per_strip: int | None = None,
    tile: tuple[int, int] | None = None,
    multisample: bool = False,
    planar: int = 1,
    jpeg_quality: int = 95,
    jpeg_tables: bool = False,
) -> None:
    """Encode a 2-D array (or a (frames, H, W) stack as a multi-frame
    IFD chain) as a single-sample TIFF. ``compression`` ∈ {"none",
    "deflate", "packbits", "lzw"}; ``predictor=2`` applies horizontal
    differencing (integer dtypes only); ``rows_per_strip`` splits each
    frame into independently-compressed strips (default: one strip per
    frame); ``tile=(th, tw)`` emits the TILED layout instead (TIFF 6.0
    §15: row-major grid, edge tiles zero-padded to full tile size, the
    predictor restarting per tile). Layout: header | block data | IFDs
    | overflow arrays (offset/count lists that don't fit inline).

    ``multisample=True`` (r15) treats the LAST axis as samples —
    (H, W, S) or (frames, H, W, S) — written chunky (``planar=1``,
    RGBRGB rows) or planar (``planar=2``, plane-major strip list);
    striped only (tile + multisample raises)."""
    arr = np.asarray(array)
    if compression == "jpeg":
        return _write_jpeg_tiff(
            path, arr, byteorder, predictor, rows_per_strip, tile,
            multisample, jpeg_quality, jpeg_tables,
        )
    nsamp = 1
    if multisample:
        if arr.ndim == 3:
            arr = arr[None]
        if arr.ndim != 4:
            raise ValueError(
                f"multisample needs (H,W,S) or (frames,H,W,S), got {arr.shape}"
            )
        nsamp = arr.shape[-1]
        if tile is not None:
            raise ValueError("tile and multisample are mutually exclusive")
        if planar not in (1, 2):
            raise ValueError(f"planar must be 1 or 2, got {planar}")
    else:
        if arr.ndim == 2:
            arr = arr[None]
        if arr.ndim != 3:
            raise ValueError(f"need 2-D or 3-D (frames,H,W), got {arr.shape}")
    if arr.dtype.kind not in _KIND_TO_FMT:
        raise ValueError(f"unsupported dtype {arr.dtype}")
    comp = _COMPRESSORS[compression]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    if predictor == 2 and arr.dtype.kind == "f":
        raise ValueError("predictor 2 requires integer samples")
    if tile is not None and rows_per_strip is not None:
        raise ValueError("tile and rows_per_strip are mutually exclusive")
    en = byteorder
    n_frames, height, width = arr.shape[:3]
    dtype = arr.dtype.newbyteorder(en)
    rps = height if rows_per_strip is None else max(1, int(rows_per_strip))

    frame_strips: list[list[bytes]] = []
    for i in range(n_frames):
        if nsamp > 1:
            fr = np.ascontiguousarray(arr[i], dtype=dtype)  # (H, W, S)
            if predictor == 2:
                d = fr.astype(np.int64)
                d[:, 1:, :] = d[:, 1:, :] - d[:, :-1, :]
                fr = d.astype(dtype)
            if planar == 1:
                # chunky: strips slice interleaved full-width rows
                a2 = fr.reshape(height, width * nsamp)
                strips = [
                    _compress_strip(
                        np.ascontiguousarray(a2[r0 : r0 + rps]).tobytes(), comp
                    )
                    for r0 in range(0, height, rps)
                ]
            else:
                # planar: plane-major strip list (all of sample 0's
                # strips, then sample 1's, …)
                strips = []
                for s in range(nsamp):
                    plane = np.ascontiguousarray(fr[:, :, s])
                    strips += [
                        _compress_strip(
                            np.ascontiguousarray(plane[r0 : r0 + rps]).tobytes(),
                            comp,
                        )
                        for r0 in range(0, height, rps)
                    ]
            frame_strips.append(strips)
            continue
        a = np.ascontiguousarray(arr[i], dtype=dtype)
        if tile is not None:
            th, tw = int(tile[0]), int(tile[1])
            down = (height + th - 1) // th
            across = (width + tw - 1) // tw
            padded = np.zeros((down * th, across * tw), dtype=dtype)
            padded[:height, :width] = a
            blocks = []
            for tr in range(down):
                for tc in range(across):
                    blk = padded[tr * th : (tr + 1) * th, tc * tw : (tc + 1) * tw]
                    if predictor == 2:
                        blk = _hdiff(blk, dtype)
                    blocks.append(
                        _compress_strip(np.ascontiguousarray(blk).tobytes(), comp)
                    )
            frame_strips.append(blocks)
            continue
        if predictor == 2:
            a = _hdiff(a, dtype)
        strips = [
            _compress_strip(
                np.ascontiguousarray(a[r0 : r0 + rps]).tobytes(), comp
            )
            for r0 in range(0, height, rps)
        ]
        frame_strips.append(strips)

    entries = (
        (11 if tile is not None else 10)
        + (1 if predictor == 2 else 0)
        + (1 if nsamp > 1 else 0)  # PlanarConfiguration
    )
    ifd_size = 2 + 12 * entries + 4
    header = 8
    # TIFF 6.0 requires word-aligned value offsets: pad every block to
    # even length (byte COUNTS keep the true lengths) so strip starts,
    # the IFD chain and the overflow arrays all land on even offsets
    data_size = sum(len(s) + (len(s) & 1) for strips in frame_strips for s in strips)
    ifd0 = header + data_size
    ifds_off = [ifd0 + i * ifd_size for i in range(n_frames)]
    overflow_off = ifd0 + n_frames * ifd_size

    # strip offsets, frame-major, packed (even-padded) after the header
    strip_offs: list[list[int]] = []
    pos = header
    for strips in frame_strips:
        offs = []
        for s in strips:
            offs.append(pos)
            pos += len(s) + (len(s) & 1)
        strip_offs.append(offs)

    eb = _IfdEntries(en, overflow_off)
    entry, array_entry, shorts_entry = eb.entry, eb.array, eb.shorts

    out = [struct.pack(en + "2sHI", b"II" if en == "<" else b"MM", 42, ifds_off[0])]
    for strips in frame_strips:
        for s in strips:
            out.append(s)
            if len(s) & 1:
                out.append(b"\0")  # word-alignment pad (not counted)
    ifd_blocks = []
    for i in range(n_frames):
        tag_list = [
            entry(_IMAGE_WIDTH, 4, 1, width),
            entry(_IMAGE_LENGTH, 4, 1, height),
            shorts_entry(_BITS_PER_SAMPLE, [dtype.itemsize * 8] * nsamp),
            entry(_COMPRESSION, 3, 1, comp),
            # RGB photometric for 3 samples, BlackIsZero otherwise
            entry(_PHOTOMETRIC, 3, 1, 2 if nsamp == 3 else 1),
            entry(_SAMPLES_PER_PIXEL, 3, 1, nsamp),
            entry(_SAMPLE_FORMAT, 3, 1, _KIND_TO_FMT[dtype.kind]),
        ]
        if nsamp > 1:
            tag_list.append(entry(_PLANAR_CONFIG, 3, 1, planar))
        if tile is not None:
            tag_list += [
                entry(_TILE_WIDTH, 4, 1, int(tile[1])),
                entry(_TILE_LENGTH, 4, 1, int(tile[0])),
                array_entry(_TILE_OFFSETS, strip_offs[i]),
                array_entry(
                    _TILE_BYTE_COUNTS, [len(s) for s in frame_strips[i]]
                ),
            ]
        else:
            tag_list += [
                array_entry(_STRIP_OFFSETS, strip_offs[i]),
                entry(_ROWS_PER_STRIP, 4, 1, rps),
                array_entry(
                    _STRIP_BYTE_COUNTS, [len(s) for s in frame_strips[i]]
                ),
            ]
        if predictor == 2:
            tag_list.append(entry(_PREDICTOR, 3, 1, 2))
        # TIFF requires ascending tag order within an IFD
        tag_list.sort(key=lambda b: struct.unpack_from(en + "H", b)[0])
        nxt = ifds_off[i + 1] if i + 1 < n_frames else 0
        ifd_blocks.append(
            struct.pack(en + "H", entries)
            + b"".join(tag_list)
            + struct.pack(en + "I", nxt)
        )
    out.extend(ifd_blocks)
    out.append(bytes(eb.overflow))
    with open(path, "wb") as f:
        f.write(b"".join(out))


def _write_jpeg_tiff(path, arr, byteorder, predictor, rows_per_strip, tile,
                     multisample, quality, jpeg_tables=False):
    """New-style JPEG (compression 7) writer. ``jpeg_tables=False``
    writes self-contained per-strip JFIF streams (the simplest legal
    form); ``jpeg_tables=True`` writes ABBREVIATED strips with the
    shared DQT/DHT segments hoisted into the JPEGTables tag (347,
    UNDEFINED) — the libtiff convention, exercising the reader's
    splice path. uint8 only, chunky only, LOSSY (quality-scaled
    Annex-K tables) — round-trip tests use flat/q-high content where
    the codec is exact."""
    if predictor != 1:
        raise ValueError("JPEG compression and predictor 2 are exclusive")
    if tile is not None:
        raise ValueError("tiled JPEG writing unsupported (strips only)")
    if multisample:
        if arr.ndim == 3:
            arr = arr[None]
        if arr.ndim != 4 or arr.shape[-1] != 3:
            raise ValueError(f"JPEG multisample needs (…,H,W,3), got {arr.shape}")
        nsamp = 3
    else:
        if arr.ndim == 2:
            arr = arr[None]
        if arr.ndim != 3:
            raise ValueError(f"need 2-D or 3-D (frames,H,W), got {arr.shape}")
        nsamp = 1
    if arr.dtype != np.uint8:
        raise ValueError("JPEG strips are 8-bit: pass uint8")
    from scip_spark.sources import jpegio

    en = byteorder
    n_frames, height, width = arr.shape[:3]
    rps = height if rows_per_strip is None else max(1, int(rows_per_strip))
    frame_strips = []
    tables_blob = b""
    for i in range(n_frames):
        strips = [
            jpegio.encode(np.ascontiguousarray(arr[i, r0 : r0 + rps]),
                          quality=quality)
            for r0 in range(0, height, rps)
        ]
        if jpeg_tables:
            # identical tables in every strip (same quality/layout):
            # hoist once, abbreviate all strips
            split = [jpegio.split_tables(s) for s in strips]
            tables_blob = split[0][0]
            strips = [abbrev for _, abbrev in split]
        frame_strips.append(strips)

    entries = 10 + (1 if nsamp > 1 else 0) + (1 if jpeg_tables else 0)
    ifd_size = 2 + 12 * entries + 4
    header = 8
    data_size = sum(len(s) + (len(s) & 1) for strips in frame_strips for s in strips)
    ifd0 = header + data_size
    ifds_off = [ifd0 + i * ifd_size for i in range(n_frames)]
    overflow_off = ifd0 + n_frames * ifd_size
    strip_offs = []
    pos = header
    for strips in frame_strips:
        offs = []
        for s in strips:
            offs.append(pos)
            pos += len(s) + (len(s) & 1)
        strip_offs.append(offs)

    eb = _IfdEntries(en, overflow_off)
    entry, array_entry = eb.entry, eb.array
    shorts_entry, undefined_entry = eb.shorts, eb.undefined

    out = [struct.pack(en + "2sHI", b"II" if en == "<" else b"MM", 42, ifds_off[0])]
    for strips in frame_strips:
        for s in strips:
            out.append(s)
            if len(s) & 1:
                out.append(b"\0")
    ifd_blocks = []
    for i in range(n_frames):
        tag_list = [
            entry(_IMAGE_WIDTH, 4, 1, width),
            entry(_IMAGE_LENGTH, 4, 1, height),
            shorts_entry(_BITS_PER_SAMPLE, [8] * nsamp),
            entry(_COMPRESSION, 3, 1, _COMP_JPEG),
            # 6 = YCbCr (what the JPEG stream actually carries) for
            # color; BlackIsZero for grayscale
            entry(_PHOTOMETRIC, 3, 1, 6 if nsamp == 3 else 1),
            entry(_SAMPLES_PER_PIXEL, 3, 1, nsamp),
            entry(_SAMPLE_FORMAT, 3, 1, _SAMPLE_FMT_UINT),
            array_entry(_STRIP_OFFSETS, strip_offs[i]),
            entry(_ROWS_PER_STRIP, 4, 1, rps),
            array_entry(_STRIP_BYTE_COUNTS, [len(s) for s in frame_strips[i]]),
        ]
        if nsamp > 1:
            tag_list.append(entry(_PLANAR_CONFIG, 3, 1, 1))
        if jpeg_tables:
            tag_list.append(undefined_entry(_JPEG_TABLES, tables_blob))
        tag_list.sort(key=lambda b: struct.unpack_from(en + "H", b)[0])
        nxt = ifds_off[i + 1] if i + 1 < n_frames else 0
        ifd_blocks.append(
            struct.pack(en + "H", entries)
            + b"".join(tag_list)
            + struct.pack(en + "I", nxt)
        )
    out.extend(ifd_blocks)
    out.append(bytes(eb.overflow))
    with open(path, "wb") as f:
        f.write(b"".join(out))
