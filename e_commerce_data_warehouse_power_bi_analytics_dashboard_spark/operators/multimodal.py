"""Multimodal column operators: image/audio/video as opaque ``binary``
payloads with typed metadata (beyond-reference extension per
BASELINE.json's north star — the reference, a PostgreSQL/Power BI DW,
has no binary columns at all).

Design for 100 TB:
  - payloads are opaque ``BinaryType`` cells; all per-byte work runs in
    Arrow-batched ``mapInPandas`` (one Python worker per partition, no
    per-row pickling, no driver collect);
  - metadata lives in a typed struct column so filters on
    mime/width/height are plain Catalyst predicates (pushed to the scan,
    never touching the payload bytes — column pruning drops the blob);
  - PNG (grayscale-8) and WAV (16-bit PCM mono) are decoded FOR REAL
    with stdlib-only wire-format codecs (zlib/struct: CRC-checked
    chunks, DEFLATE scanlines with all five PNG filters, RIFF chunk
    walk) — see encode_png/decode_png/decode_wav below. Only the color
    configurations that genuinely need a codec package (PIL/ffmpeg —
    not in this container) raise ``NotImplementedError``, from inside
    the decoders where the unsupported header is detected.

The test corpus has no real media files, so ``attach_payload`` fabricates
a deterministic payload (UTF-8 document bytes) + metadata from the
``documents`` table; at production scale the same schema would come from
``spark.read.format("binaryFile")`` or parquet with a binary column.

Arrow envelope contract (``_map_rows``, the module's one
``mapInPandas``): every operator below is a per-row function
``fn(*values)`` over the selected input columns that yields output
tuples in its schema's field order — none (the row is dropped), one,
or many (1→N expansion, e.g. ``sample_frames``). Each Arrow batch in
gives one pandas frame out, possibly empty; an exception raised by
``fn`` fails the task and surfaces at the action. The synthesizers
emit ``(doc_id long, <payload> binary)`` (``_payload_schema``).
"""

from __future__ import annotations

import hashlib
import math
import struct
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: typed metadata carried next to every payload
METADATA_TYPE = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

MIMES = ("image/png", "audio/wav", "video/mp4")


def _map_rows(
    df: DataFrame,
    cols: Sequence[str],
    schema: T.StructType,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """``df.select(*cols)`` through ``mapInPandas``: ``fn`` runs once
    per input row on that row's values and every tuple it yields is
    one output row (see the module docstring)."""
    names = schema.fieldNames()

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = [out for vals in zip(*(pdf[c] for c in cols)) for out in fn(*vals)]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(run, schema)


def _payload_schema(col: str) -> T.StructType:
    """``(doc_id long, <col> binary)``: what every synthesizer emits."""
    return T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField(col, T.BinaryType())]
    )


def _ids_at_width(docs: DataFrame) -> DataFrame:
    """Machine-width doc-id frame for the Arrow synthesize stages (r12 —
    guide §2.5/§4.1): a single-file test-scale scan otherwise leaves ONE
    partition — i.e. ONE Python worker — for the whole encode+decode
    pipeline (mapInPandas preserves partitioning, so the width set here
    carries through every downstream codec stage). The exchange moves
    one BIGINT per row; payloads are synthesized after it."""
    return docs.select("doc_id").repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )

def attach_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary, meta struct).

    Payload = UTF-8 bytes of the text (a deterministic stand-in for real
    media bytes); metadata derived arithmetically from doc_id/n_chars so
    a SQL oracle can replicate it exactly.
    """
    mime = F.element_at(F.array(*[F.lit(m) for m in MIMES]), (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            mime.alias("mime"),
            (64 + (F.col("doc_id") % 16) * 32).cast("int").alias("width"),
            (64 + (F.col("doc_id") % 9) * 32).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# feature extraction — Arrow-batched mapInPandas over the payload bytes
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("magic", T.StringType()),
        T.StructField("byte_entropy", T.DoubleType()),
    ]
)


def extract_features(with_payload: DataFrame) -> DataFrame:
    """Per-payload content features (length, digest, magic bytes, byte
    entropy) via ``mapInPandas`` — the canonical shape for any real
    decode/featurize step: Arrow batches in, Arrow batches out, payload
    column pruned from the output."""

    def features(doc_id, payload):
        import numpy as np

        b = bytes(payload)
        n = len(b)
        # vectorized byte histogram (numpy, never a Python loop over
        # bytes); summing in byte-value order instead of first-appearance
        # order moves only the ~1e-16 float tail, which the entry's
        # 6-decimal round absorbs like the engine-vs-oracle order does
        if n:
            counts = np.bincount(np.frombuffer(b, dtype=np.uint8))
            p = counts[counts > 0] / n
            entropy = float(-(p * np.log2(p)).sum())
        else:
            entropy = 0.0
        yield int(doc_id), n, hashlib.sha256(b).hexdigest(), b[:4].hex(), entropy

    return _map_rows(with_payload, ["doc_id", "payload"], FEATURES_SCHEMA, features)


# ---------------------------------------------------------------------------
# frame sampling — fixed-size virtual frames, every k-th kept
# ---------------------------------------------------------------------------

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_len", T.LongType()),
        T.StructField("frame_sha256", T.StringType()),
    ]
)


def sample_frames(with_payload: DataFrame, frame_size: int = 256, every: int = 4) -> DataFrame:
    """Slice each payload into fixed-size frames and keep every ``every``-th
    (frame-sampling a video without a codec: the slicing/batching is the
    real plumbing; a production build swaps byte-slices for decoded
    frames). One output row per sampled frame — a mapInPandas that
    *expands* rows, exercising the 1→N batch shape."""

    def frames(doc_id, payload):
        b = bytes(payload)
        n_frames = (len(b) + frame_size - 1) // frame_size
        for idx in range(0, n_frames, every):
            frame = b[idx * frame_size : (idx + 1) * frame_size]
            yield int(doc_id), idx, len(frame), hashlib.sha256(frame).hexdigest()

    return _map_rows(with_payload, ["doc_id", "payload"], FRAMES_SCHEMA, frames)


# ---------------------------------------------------------------------------
# real PNG wire format — stdlib-only (zlib + struct), no codec package
# ---------------------------------------------------------------------------
#
# PNG needs nothing beyond zlib: signature, CRC-checked chunks,
# DEFLATE'd scanlines, per-row filters 0-4 applied at the
# bytes-per-pixel stride. encode_png/decode_png below implement the
# format for real — byte-identical to what libpng would produce/accept
# — across EVERY valid depth/colortype combination (r8): gray /
# gray+alpha / truecolor / RGBA at 8 and 16 bits, palette (type 3),
# sub-byte grayscale (1/2/4-bit, MSB-first packed), sequential AND
# Adam7-interlaced. No codec package involved anywhere.

_PNG_SIG = b"\x89PNG\r\n\x1a\x0a"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib as _z

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _pack_row(samples: list[int], depth: int) -> list[int]:
    """Serialize one scanline of sample values to packed bytes: identity
    at depth 8, big-endian pairs at 16, MSB-first bit packing with
    row-end padding at 1/2/4 (PNG spec §7.2)."""
    if depth == 8:
        return list(samples)
    if depth == 16:
        return [b for v in samples for b in ((v >> 8) & 0xFF, v & 0xFF)]
    out: list[int] = []
    acc = nbits = 0
    mask = (1 << depth) - 1
    for v in samples:
        acc = (acc << depth) | (v & mask)
        nbits += depth
        if nbits == 8:
            out.append(acc)
            acc = nbits = 0
    if nbits:
        out.append(acc << (8 - nbits))
    return out


def _filter_rows(byte_rows: list[list[int]], bpp: int, filter_of_row, raw: bytearray) -> None:
    """Append filtered scanlines (filter byte + data) to ``raw``.
    Filter state (the ``up`` row) starts at zero — each call is one
    independent image or Adam7 pass (spec §8.2)."""
    if not byte_rows:
        return
    prev = [0] * len(byte_rows[0])
    for y, row in enumerate(byte_rows):
        ft = filter_of_row(y) % 5
        raw.append(ft)
        for x in range(len(row)):
            left = row[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            v = row[x]
            if ft == 0:
                raw.append(v)
            elif ft == 1:
                raw.append((v - left) & 0xFF)
            elif ft == 2:
                raw.append((v - up) & 0xFF)
            elif ft == 3:
                raw.append((v - (left + up) // 2) & 0xFF)
            else:
                raw.append((v - _paeth(left, up, ul)) & 0xFF)
        prev = row


def encode_png(
    pixels: list[list[int]], filter_of_row, channels: int = 1,
    depth: int = 8, interlace: int = 0,
) -> bytes:
    """Encode a pixel grid as a real PNG byte stream — grayscale
    (``channels=1``, color type 0), gray+alpha (2 → type 4), truecolor
    (3 → type 2; each row holds w*3 interleaved RGB samples) or RGBA
    (4 → type 6), at ``depth`` 16/8 bits per sample (any channels) or
    1/2/4 (grayscale only, per spec §11.2.2), sequential or
    Adam7-interlaced (``interlace=1``). PNG filters operate at the
    BYTES-per-pixel stride regardless of depth — 16-bit rows serialize
    to big-endian pairs, sub-byte rows bit-pack MSB-first, and then the
    packed bytes are filtered (spec §9.2). Interlaced output filters
    each of the 7 passes as an independent sub-image.

    ``filter_of_row(y)`` picks the scanline filter (0=None 1=Sub 2=Up
    3=Average 4=Paeth) so a corpus exercises every decoder branch.
    Runs inside the Arrow-batched synthesis UDF — never on the driver.
    """
    import struct
    import zlib as _z

    if channels not in (1, 2, 3, 4):
        raise ValueError(
            f"channels={channels}: PNG subset covers 1 (gray), "
            "2 (gray+alpha), 3 (RGB), 4 (RGBA)"
        )
    if depth not in (8, 16) and not (channels == 1 and depth in (1, 2, 4)):
        raise ValueError(
            f"depth={depth}/channels={channels}: sub-byte depths are "
            "grayscale-only (PNG spec §11.2.2)"
        )
    h = len(pixels)
    n_samples = len(pixels[0]) if h else 0
    w = n_samples // channels
    bpp = max(1, channels * depth // 8)
    raw = bytearray()
    if interlace == 0:
        _filter_rows([_pack_row(r, depth) for r in pixels], bpp, filter_of_row, raw)
    else:
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            pass_rows = [
                _pack_row(
                    [
                        pixels[y0 + j * dy][(x0 + i * dx) * channels + c]
                        for i in range(pw)
                        for c in range(channels)
                    ],
                    depth,
                )
                for j in range(ph)
            ]
            _filter_rows(pass_rows, bpp, filter_of_row, raw)
    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", w, h, depth, colortype, 0, 0, interlace)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(
    indices: list[list[int]], palette: list[tuple[int, int, int]], filter_of_row
) -> bytes:
    """Encode an index grid as a real color-type-3 (indexed) PNG: a PLTE
    chunk of RGB triples plus filtered 1-byte-per-pixel scanlines. The
    filter loop is the ``encode_png`` channels=1 loop (palette indices
    filter at the index stride per the PNG spec, NOT at the expanded RGB
    stride). Runs inside the Arrow-batched synthesis UDF."""
    import struct
    import zlib as _z

    h = len(indices)
    w = len(indices[0]) if h else 0
    raw = bytearray()
    prev = [0] * w
    for y in range(h):
        row = indices[y]
        ft = filter_of_row(y) % 5
        raw.append(ft)
        for x in range(w):
            left = row[x - 1] if x >= 1 else 0
            up = prev[x]
            ul = prev[x - 1] if x >= 1 else 0
            v = row[x]
            if ft == 0:
                raw.append(v)
            elif ft == 1:
                raw.append((v - left) & 0xFF)
            elif ft == 2:
                raw.append((v - up) & 0xFF)
            elif ft == 3:
                raw.append((v - (left + up) // 2) & 0xFF)
            else:
                raw.append((v - _paeth(left, up, ul)) & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    plte = bytes(b for rgb in palette for b in rgb)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


#: Adam7 interlace pass geometry: (x0, y0, dx, dy) per pass (PNG spec
#: §8.2) — pass p covers pixels (x0 + i*dx, y0 + j*dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)

#: valid (colortype -> bit depths) combinations (PNG spec §11.2.2)
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}


def _png_rowbytes(width_px: int, nch: int, depth: int) -> int:
    """Packed scanline width in bytes (sub-byte samples pack MSB-first
    with pad bits at the row end — spec §7.2)."""
    return (width_px * nch * depth + 7) // 8


def _defilter(raw: bytes, off: int, n_rows: int, rowbytes: int, bpp: int):
    """Reverse the five scanline filters over ``n_rows`` consecutive
    scanlines of ``raw`` starting at ``off``; returns (byte rows, new
    offset). Filters are byte-lane ops at the filter stride ``bpp``
    (max(1, ceil bytes per pixel)) regardless of depth — spec §9.2."""
    rows: list[list[int]] = []
    prev = [0] * rowbytes
    for _ in range(n_rows):
        ft = raw[off]
        fdata = raw[off + 1 : off + 1 + rowbytes]
        off += 1 + rowbytes
        row: list[int] = []
        for x in range(rowbytes):
            left = row[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            v = fdata[x]
            if ft == 1:
                v = (v + left) & 0xFF
            elif ft == 2:
                v = (v + up) & 0xFF
            elif ft == 3:
                v = (v + (left + up) // 2) & 0xFF
            elif ft == 4:
                v = (v + _paeth(left, up, ul)) & 0xFF
            elif ft != 0:
                raise ValueError(f"corrupt PNG: unknown filter {ft}")
            row.append(v)
        rows.append(row)
        prev = row
    return rows, off


def _unpack_samples(byte_row: list[int], width_px: int, nch: int, depth: int) -> list[int]:
    """Packed scanline bytes → ``width_px * nch`` sample values.
    Depth 8 is identity, 16 re-assembles big-endian pairs, sub-byte
    depths extract MSB-first bit fields (row-end pad bits dropped)."""
    n = width_px * nch
    if depth == 8:
        return byte_row[:n]
    if depth == 16:
        return [(byte_row[2 * i] << 8) | byte_row[2 * i + 1] for i in range(n)]
    per_byte = 8 // depth
    mask = (1 << depth) - 1
    return [
        (byte_row[i // per_byte] >> (8 - depth * (i % per_byte + 1))) & mask
        for i in range(n)
    ]


def decode_png(data: bytes) -> tuple[int, int, int, list[list[int]]]:
    """Parse a PNG byte stream → (width, height, channels, sample grid);
    each grid row holds width*channels sample values (interleaved RGB
    for truecolor).

    COMPLETE stdlib decoder for every valid PNG depth/colortype combo
    (spec §11.2.2): gray 1/2/4/8/16, palette 1/2/4/8, truecolor,
    gray+alpha and RGBA 8/16 — sequential AND Adam7-interlaced (r8;
    the r7 gates on sub-byte depths and interlace are gone). Walks
    chunks, VERIFIES each CRC, concatenates IDATs, zlib-inflates, then
    reverses all five scanline filters (None/Sub/Up/Average/Paeth) —
    byte-lane operations at the filter stride whatever the depth
    (§9.2); sub-byte samples unpack MSB-first with row-end pad bits
    dropped (§7.2); 16-bit samples re-assemble big-endian; interlaced
    images de-filter each of the 7 Adam7 passes as an independent
    sub-image (per-pass filter state, partial/empty edge passes) and
    scatter into the full grid (§8.2). Palette images de-filter and
    unpack at the INDEX stride, then expand through PLTE to interleaved
    RGB — shape-identical to truecolor. Raises ValueError on corrupt
    CRC / size / filter / palette-index bytes; sub-byte gray returns
    raw sample values 0..2^depth-1 (no bit replication — stats oracles
    work on raw samples).
    """
    import struct
    import zlib as _z

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, w = 8, 0
    h = bitdepth = colortype = interlace = -1
    idat = bytearray()
    plte = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if _z.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"corrupt PNG: CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            w, h, bitdepth, colortype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if bitdepth not in _PNG_DEPTHS.get(colortype, ()):
        raise ValueError(
            f"corrupt PNG: invalid bitdepth={bitdepth} for colortype={colortype}"
        )
    if interlace not in (0, 1):
        raise ValueError(f"corrupt PNG: unknown interlace method {interlace}")
    if colortype == 3 and (not plte or len(plte) % 3):
        raise ValueError("corrupt PNG: palette image without a valid PLTE chunk")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[colortype]
    bpp = max(1, nch * bitdepth // 8)
    raw = _z.decompress(bytes(idat))

    if interlace == 0:
        rowbytes = _png_rowbytes(w, nch, bitdepth)
        if len(raw) != h * (rowbytes + 1):
            raise ValueError("corrupt PNG: scanline payload size mismatch")
        byte_rows, _ = _defilter(raw, 0, h, rowbytes, bpp)
        grid = [_unpack_samples(r, w, nch, bitdepth) for r in byte_rows]
    else:
        expected = sum(
            ((h - y0 + dy - 1) // dy) * (1 + _png_rowbytes((w - x0 + dx - 1) // dx, nch, bitdepth))
            for x0, y0, dx, dy in _ADAM7
            if (w - x0 + dx - 1) // dx > 0 and (h - y0 + dy - 1) // dy > 0
        )
        if len(raw) != expected:
            raise ValueError("corrupt PNG: interlaced payload size mismatch")
        grid = [[0] * (w * nch) for _ in range(h)]
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty edge pass contributes no scanlines (§8.2)
            byte_rows, off = _defilter(raw, off, ph, _png_rowbytes(pw, nch, bitdepth), bpp)
            for j, brow in enumerate(byte_rows):
                samples = _unpack_samples(brow, pw, nch, bitdepth)
                y = y0 + j * dy
                for i in range(pw):
                    x = x0 + i * dx
                    grid[y][x * nch : (x + 1) * nch] = samples[i * nch : (i + 1) * nch]

    if colortype == 3:
        n_entries = len(plte) // 3
        rgb: list[list[int]] = []
        for row in grid:
            out: list[int] = []
            for idx in row:
                if idx >= n_entries:
                    raise ValueError(
                        f"corrupt PNG: palette index {idx} >= {n_entries} entries"
                    )
                out.extend(plte[3 * idx : 3 * idx + 3])
            rgb.append(out)
        return w, h, 3, rgb
    return w, h, nch, grid


#: deterministic synthetic pixel formula shared with the SQL oracle
def _pixel(doc_id: int, x: int, y: int) -> int:
    return (doc_id * 7 + y * 3 + x) % 256


def synthesize_png_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, png binary): real PNG files (CRCs, DEFLATE,
    per-row filter cycling through all five types) built per-partition in
    mapInPandas. Dims/pixels are closed-form in doc_id so a SQL oracle
    can reproduce the decoded output without ever seeing the bytes."""

    def png(doc_id):
        d = int(doc_id)
        w, h = 8 * (1 + d % 6), 4 * (1 + d % 5)
        grid = [[_pixel(d, x, y) for x in range(w)] for y in range(h)]
        yield d, encode_png(grid, lambda y: d + y)

    return _map_rows(docs, ["doc_id"], _payload_schema("png"), png)


#: deterministic 16-bit pixel formula shared with the SQL oracle —
#: multipliers chosen so values sweep the full 0..65535 range (both
#: byte lanes vary, exercising the bytewise filter reassembly)
def _pixel16(doc_id: int, x: int, y: int) -> int:
    return (doc_id * 257 + y * 301 + x * 977) % 65536


def synthesize_png_gray16_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, png binary): real 16-bit grayscale PNG
    files (color type 0 depth 16: big-endian byte pairs, CRC'd chunks,
    per-row filter cycling through all five types at the 2-byte
    stride) built per-partition in mapInPandas — the scientific /
    medical-imagery depth. Dims/pixels are closed-form in doc_id so a
    SQL oracle reproduces the decoded stats without the bytes."""

    def png(doc_id):
        d = int(doc_id)
        w, h = 8 * (1 + d % 3), 4 * (1 + d % 4)
        grid = [[_pixel16(d, x, y) for x in range(w)] for y in range(h)]
        yield d, encode_png(grid, lambda y: d + y, depth=16)

    return _map_rows(_ids_at_width(docs), ["doc_id"], _payload_schema("png"), png)


def decode_image_gray16(with_png: DataFrame) -> DataFrame:
    """Pixel stats over REAL 16-bit grayscale PNG payloads: the stdlib
    decoder de-filters the byte lanes at the 2-byte stride and
    re-assembles big-endian samples; stats are exact integer sums
    (min/max/sum over 0..65535 values) so the oracle comparison has no
    float hazard beyond one terminal division. Arrow-batched
    mapInPandas; payload pruned from the output."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("min_px", T.LongType()),
            T.StructField("max_px", T.LongType()),
            T.StructField("sum_px", T.LongType()),
        ]
    )

    def stats(doc_id, png):
        w, h, c, grid = decode_png(bytes(png))
        flat = [v for r in grid for v in r]
        yield int(doc_id), w, h, min(flat), max(flat), sum(flat)

    return _map_rows(with_png, ["doc_id", "png"], schema, stats)


def synthesize_png_interlaced_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, png binary): real ADAM7-INTERLACED
    grayscale-8 PNG files (r8 — the last user-visible codec gate: web
    image corpora contain interlaced PNGs). Dims 3..15 × 2..12 are
    deliberately NOT multiples of 8, so every image exercises partial
    and empty interlace passes; each of the 7 passes filters
    independently through all five filter types. Dims/pixels are
    closed-form in doc_id so a SQL oracle reproduces the decoded stats
    without the bytes."""

    def png(doc_id):
        d = int(doc_id)
        w, h = 3 + d % 13, 2 + d % 11
        grid = [[_pixel(d, x, y) for x in range(w)] for y in range(h)]
        yield d, encode_png(grid, lambda y: d + y, interlace=1)

    return _map_rows(docs, ["doc_id"], _payload_schema("png"), png)


def synthesize_png_sub8_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, png binary): real SUB-BYTE grayscale PNG
    files (r8 — depth 1/2/4, the bilevel/fax end of the spec): packed
    MSB-first samples with row-end pad bits (widths chosen so most rows
    need padding), filtered at the packed-byte stride through all five
    filter types. depth = (1,2,4)[doc_id % 3]; samples are raw values
    0..2^depth-1 (no bit replication). Closed-form in doc_id for the
    SQL oracle."""

    def png(doc_id):
        d = int(doc_id)
        depth = (1, 2, 4)[d % 3]
        w, h = 5 + d % 12, 3 + d % 6
        grid = [[_pixel(d, x, y) % (1 << depth) for x in range(w)] for y in range(h)]
        yield d, encode_png(grid, lambda y: d + y, depth=depth)

    return _map_rows(docs, ["doc_id"], _payload_schema("png"), png)


#: deterministic per-channel pixel formula shared with the SQL oracle
#: (channel 0 reduces to the grayscale formula)
def _pixel_rgb(doc_id: int, x: int, y: int, ch: int) -> int:
    return (doc_id * 7 + y * 3 + x + 11 * ch) % 256


def synthesize_png_rgb_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, png binary): real truecolor-8 PNG files
    (color type 2, CRCs, DEFLATE, per-row filter cycling through all
    five types at the 3-byte stride) built per-partition in mapInPandas.
    Dims/pixels are closed-form in doc_id so a SQL oracle can reproduce
    the decoded channel stats without ever seeing the bytes."""

    def png(doc_id):
        d = int(doc_id)
        w, h = 8 * (1 + d % 4), 4 * (1 + d % 3)
        grid = [
            [_pixel_rgb(d, x, y, ch) for x in range(w) for ch in range(3)]
            for y in range(h)
        ]
        yield d, encode_png(grid, lambda y: d + y, channels=3)

    return _map_rows(_ids_at_width(docs), ["doc_id"], _payload_schema("png"), png)


#: deterministic 16-entry palette + index formula shared with the SQL
#: oracle: channel c of index i is (i * [17, 29, 53][c]) % 256
_PALETTE = [((i * 17) % 256, (i * 29) % 256, (i * 53) % 256) for i in range(16)]


def _pixel_idx(doc_id: int, x: int, y: int) -> int:
    return (doc_id * 7 + y * 3 + x) % 16


def synthesize_png_palette_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, png binary): real indexed-color PNG files
    (color type 3: PLTE chunk + 1-byte-per-pixel filtered scanlines,
    filter cycling through all five types) built per-partition in
    mapInPandas. Palette and index grid are closed-form in doc_id so a
    SQL oracle can reproduce the palette-EXPANDED channel stats without
    ever seeing the bytes."""

    def png(doc_id):
        d = int(doc_id)
        w, h = 8 * (1 + d % 5), 4 * (1 + d % 4)
        idx = [[_pixel_idx(d, x, y) for x in range(w)] for y in range(h)]
        yield d, encode_png_palette(idx, _PALETTE, lambda y: d + y)

    return _map_rows(docs, ["doc_id"], _payload_schema("png"), png)


DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("mean_pixel", T.DoubleType()),
    ]
)


def decode_image(with_png: DataFrame) -> DataFrame:
    """Decode PNG payloads to pixel stats — REAL for grayscale-8 (stdlib
    zlib decoder above, CRC-verified, all five filters); other color
    types raise inside decode_png and would need PIL. Arrow-batched
    mapInPandas; payload pruned from the output."""

    def stats(doc_id, png):
        w, h, c, grid = decode_png(bytes(png))
        n = w * h
        # mean over every sample (== pixel mean for grayscale)
        mean = sum(sum(r) for r in grid) / (n * c) if n else 0.0
        yield int(doc_id), w, h, n, mean

    return _map_rows(with_png, ["doc_id", "png"], DECODE_SCHEMA, stats)


RGB_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def decode_image_rgb(with_png: DataFrame) -> DataFrame:
    """Per-channel pixel stats over REAL truecolor-8 PNG payloads: the
    stdlib decoder inflates and de-filters at the 3-byte stride, then a
    numpy stride-slice computes each channel mean. Arrow-batched
    mapInPandas; payload pruned from the output."""

    def stats(doc_id, png):
        import numpy as np

        w, h, c, grid = decode_png(bytes(png))
        if c != 3:
            raise ValueError(f"doc {doc_id}: expected RGB PNG, got {c} channel(s)")
        means = np.array(grid, dtype=np.float64).reshape(h, w, 3).mean(axis=(0, 1))
        yield int(doc_id), w, h, float(means[0]), float(means[1]), float(means[2])

    return _map_rows(with_png, ["doc_id", "png"], RGB_STATS_SCHEMA, stats)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("x", T.IntegerType()),
        T.StructField("y", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def resize_image(with_png: DataFrame, factor: int = 2) -> DataFrame:
    """Box-average downsample by an integer ``factor`` over the DECODED
    grid (real pixels from decode_png, not metadata) — one output row per
    output pixel, value = mean of the factor×factor source block. The
    numpy reshape-mean runs per Arrow batch; dims must divide by factor
    (the synthesizer guarantees it for factor=2)."""

    def pixels(doc_id, png):
        import numpy as np

        w, h, c, grid = decode_png(bytes(png))
        if c != 1:
            raise ValueError(
                f"doc {doc_id}: box resize covers grayscale; decode RGB "
                "via decode_image_rgb and resize per channel"
            )
        if w % factor or h % factor:
            raise ValueError(f"dims {w}x{h} not divisible by {factor}")
        a = np.array(grid, dtype=np.float64)
        small = a.reshape(h // factor, factor, w // factor, factor).mean(axis=(1, 3))
        for y in range(small.shape[0]):
            for x in range(small.shape[1]):
                yield int(doc_id), x, y, float(small[y, x])

    return _map_rows(with_png, ["doc_id", "png"], RESIZE_SCHEMA, pixels)


# ---------------------------------------------------------------------------
# real WAV wire format — stdlib-only (struct), 16-bit PCM mono
# ---------------------------------------------------------------------------

_WAV_RATE = 8000


def _sample(doc_id: int, i: int) -> int:
    """Deterministic int16 sample in [-10000, 10000], closed-form in
    doc_id so the SQL oracle reproduces the decoded signal."""
    return ((doc_id * 131 + i * 37) % 20001) - 10000


def _riff_wav(fmt: bytes, pcm: bytes, pre: bytes = b"") -> bytes:
    """One RIFF/WAVE file: ``pre`` (extra chunks placed before fmt),
    the ``fmt `` chunk and the ``data`` chunk, under the RIFF size
    header."""
    body = (
        b"WAVE" + pre
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synthesize_wav_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE files (fmt +
    data chunks, 16-bit little-endian PCM mono @ 8 kHz) built
    per-partition in mapInPandas."""

    def wav(doc_id):
        d = int(doc_id)
        n = 50 + (d % 20) * 25
        pcm = struct.pack(f"<{n}h", *[_sample(d, i) for i in range(n)])
        fmt = struct.pack("<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


def _sample24(doc_id: int, i: int) -> int:
    """Deterministic 24-bit sample (range ±1e6, well inside ±2^23) —
    closed-form in doc_id for the SQL oracle."""
    return ((doc_id * 131 + i * 37) % 2000001) - 1000000


def synthesize_wav_pcm24_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE files at the
    studio/DAW interchange depth — 24-bit little-endian two's-complement
    PCM mono @ 8 kHz (3-byte frames, blockalign 3), with an odd-length
    LIST junk chunk BEFORE fmt so the decode also exercises the RIFF
    word-alignment walk. Built per-partition in mapInPandas; samples are
    closed-form in doc_id for the SQL oracle."""

    def wav(doc_id):
        d = int(doc_id)
        n = 40 + (d % 16) * 20
        pcm = b"".join(
            struct.pack("<i", _sample24(d, i) & 0xFFFFFF)[:3]
            for i in range(n)
        )
        fmt = struct.pack(
            "<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 3, 3, 24
        )
        junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
        yield d, _riff_wav(fmt, pcm, pre=junk)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


def synthesize_wav_mulaw_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE files in G.711
    mu-law (fmt code 7, 8 bits/sample, the telephony codec) — the first
    NON-linear-PCM encoding the walker decodes. The companded BYTES are
    closed-form in doc_id, so the SQL oracle reproduces the decoded
    linear samples by applying the canonical integer expansion
    (_mulaw_expand) in arithmetic."""

    def wav(doc_id):
        d = int(doc_id)
        n = 30 + (d % 10) * 15
        pcm = bytes((d * 17 + i * 29) % 256 for i in range(n))
        fmt = struct.pack("<HHIIHH", 7, 1, _WAV_RATE, _WAV_RATE, 1, 8)
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


def synthesize_wav_alaw_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE files in G.711
    A-law (fmt code 6, 8 bits/sample — the European telephony
    companding law, the mu-law twin). Companded BYTES are closed-form
    in doc_id, so the SQL oracle reproduces the decoded linear samples
    by applying the canonical integer expansion (_alaw_expand) in
    arithmetic."""

    def wav(doc_id):
        d = int(doc_id)
        n = 30 + (d % 10) * 15
        pcm = bytes((d * 23 + i * 31) % 256 for i in range(n))
        fmt = struct.pack("<HHIIHH", 6, 1, _WAV_RATE, _WAV_RATE, 1, 8)
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


def synthesize_wav_float32_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE files in
    32-bit IEEE-float PCM (fmt code 3 — the DAW/processing-chain
    format). Samples are exact multiples of 2^-15 with |numerator| <=
    10000 < 2^14, so every value is float32-EXACT and sums of hundreds
    of them are float64-exact — the oracle reproduces the stats as one
    integer aggregation divided once, no float-accumulation hazard."""

    def wav(doc_id):
        d = int(doc_id)
        n = 35 + (d % 12) * 18
        vals = [
            ((d * 131 + i * 37) % 20001 - 10000) / 32768.0
            for i in range(n)
        ]
        pcm = struct.pack(f"<{n}f", *vals)
        fmt = struct.pack("<HHIIHH", 3, 1, _WAV_RATE, _WAV_RATE * 4, 4, 32)
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


def _wav_min_max_sum(doc_id, wav):
    """(doc_id, sample_rate, n_samples, min, max, sum) over every
    sample ``parse_wav`` returns: the row of both stats decoders."""
    rate, _ch, samples = parse_wav(bytes(wav))
    yield int(doc_id), rate, len(samples), min(samples), max(samples), sum(samples)


WAVF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("min_v", T.DoubleType()),
        T.StructField("max_v", T.DoubleType()),
        T.StructField("sum_v", T.DoubleType()),
    ]
)


def decode_wav_fstats(with_wav: DataFrame) -> DataFrame:
    """Float sample stats over RIFF/WAVE payloads: min/max/sum as
    doubles. Deterministic despite IEEE addition: the synthetic samples
    are multiples of 2^-15 whose sequential float64 sum stays exact
    (|numerator sum| < 2^23 << 2^53). Arrow-batched mapInPandas."""
    return _map_rows(with_wav, ["doc_id", "wav"], WAVF_SCHEMA, _wav_min_max_sum)


WAV24_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("min_s", T.LongType()),
        T.StructField("max_s", T.LongType()),
        T.StructField("sum_s", T.LongType()),
    ]
)


def decode_wav_stats(with_wav: DataFrame) -> DataFrame:
    """Exact integer sample stats over RIFF/WAVE payloads (depth-
    agnostic — parse_wav returns native-scale ints): min/max/sum, no
    float hazard. Arrow-batched mapInPandas; payload pruned."""
    return _map_rows(with_wav, ["doc_id", "wav"], WAV24_SCHEMA, _wav_min_max_sum)


WAV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def _alaw_expand(a: int) -> int:
    """G.711 A-law byte → linear PCM (range ±32256): the canonical
    CCITT expansion — XOR 0x55, rebuild the mantissa<<4 with the
    per-segment bias (8 / 0x108 / 0x108<<seg-1), sign from bit 7 (SET
    means positive in A-law, the opposite of two's complement). Pure
    integer arithmetic, so the oracle reproduces it in closed-form
    SQL."""
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def _mulaw_expand(u: int) -> int:
    """G.711 mu-law byte → linear PCM (range ±32124): the canonical
    CCITT expansion — invert the complement, rebuild the biased
    mantissa (mant·8 + 0x84) shifted by the exponent, subtract the
    bias, apply sign. Pure integer arithmetic, so the oracle can
    reproduce it with closed-form SQL."""
    u = ~u & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


#: IMA/DVI ADPCM quantizer step table (89 entries) and 3-bit index
#: adaptation table — the published constants from the IMA spec; both
#: are mirrored verbatim in the mm_wav_adpcm_decode SQL oracle, which
#: replays the whole state machine as a DuckDB list fold.
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_step(pred: int, idx: int, code: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (pred, idx, 4-bit code) → next
    (pred, idx). Per-bit truncated difference exactly per the spec
    (NOT the (2m+1)*step>>3 shortcut — real decoders bit-test)."""
    step = _IMA_STEPS[idx]
    diff = step >> 3
    if code & 1:
        diff += step >> 2
    if code & 2:
        diff += step >> 1
    if code & 4:
        diff += step
    if code & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    idx = max(0, min(88, idx + _IMA_INDEX[code & 7]))
    return pred, idx


def _ima_adpcm_decode(
    pcm: bytes, channels: int, block_align: int
) -> tuple[int, ...]:
    """Decode an IMA ADPCM (WAV fmt 0x11) data payload to interleaved
    int16 samples. Each block: a 4-byte header PER CHANNEL (int16
    predictor — emitted as the channel's first sample, per the spec —
    + step index + reserved), then nibble data in 4-byte-per-channel
    round-robin groups, low nibble first."""
    import struct

    out_frames: list[list[int]] = []
    for boff in range(0, len(pcm), block_align):
        block = pcm[boff : boff + block_align]
        if len(block) < 4 * channels:
            break  # trailing partial block: no full header, ignore
        pred = [0] * channels
        idx = [0] * channels
        chans: list[list[int]] = []
        for c in range(channels):
            p, i, _r = struct.unpack("<hBB", block[4 * c : 4 * c + 4])
            if i > 88:
                raise ValueError(f"ADPCM step index {i} out of range")
            pred[c], idx[c] = p, i
            chans.append([p])
        data = block[4 * channels :]
        # 4-byte units round-robin per channel; each unit = 8 nibbles.
        # Mono tolerates a sub-4-byte tail (every byte is still two
        # in-order nibbles); multichannel data MUST be aligned to a
        # FULL ROTATION of units (4 bytes x channels) — a partial unit
        # is ambiguous about channel ownership, and a complete unit
        # missing its siblings would silently truncate every channel
        # to the shortest via the frame min() below.
        if channels > 1 and len(data) % (4 * channels):
            raise ValueError(
                "multichannel ADPCM data must be aligned to "
                f"4-byte units x {channels} channels"
            )
        for u in range(len(data) // 4):
            c = u % channels
            for byte in data[4 * u : 4 * u + 4]:
                for code in (byte & 0xF, byte >> 4):
                    pred[c], idx[c] = _ima_step(pred[c], idx[c], code)
                    chans[c].append(pred[c])
        if channels == 1:
            for byte in data[(len(data) // 4) * 4 :]:
                for code in (byte & 0xF, byte >> 4):
                    pred[0], idx[0] = _ima_step(pred[0], idx[0], code)
                    chans[0].append(pred[0])
        n_frames = min(len(ch) for ch in chans)
        for f in range(n_frames):
            out_frames.append([chans[c][f] for c in range(channels)])
    return tuple(s for frame in out_frames for s in frame)


def synthesize_wav_float64_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): RIFF/WAVE files in 64-bit
    IEEE-float PCM (fmt code 3, bits 64 — the scientific/DSP
    double-precision interchange). Same exact-multiples-of-2^-15 sample
    family as the float32 twin, so min/max/sum are float64-exact on
    both engines; the r8 'float64 needs ffmpeg' gate was dishonest
    (it is one struct unpack) and is gone."""

    def wav(doc_id):
        d = int(doc_id)
        n = 30 + (d % 9) * 14
        vals = [
            ((d * 131 + i * 37) % 20001 - 10000) / 32768.0
            for i in range(n)
        ]
        pcm = struct.pack(f"<{n}d", *vals)
        fmt = struct.pack(
            "<HHIIHH", 3, 1, _WAV_RATE, _WAV_RATE * 8, 8, 64
        )
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


#: MS ADPCM published constants (Microsoft WAVE format documentation):
#: nibble-indexed delta adaptation + the 7 fixed predictor-coefficient
#: pairs. Mirrored in the mm_wav_msadpcm_decode SQL oracle.
_MS_ADAPT = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)
_MS_C1 = (256, 512, 0, 192, 240, 460, 392)
_MS_C2 = (0, -256, 0, 64, 0, -208, -232)


def _ms_adpcm_decode(
    pcm: bytes, channels: int, block_align: int
) -> tuple[int, ...]:
    """Decode an MS ADPCM (WAV fmt 2) payload to interleaved int16
    samples. Each block: per-channel headers (predictor index byte,
    int16 idelta, int16 sample1, int16 sample2 — sample2 is the OLDER
    sample, so output order is sample2 then sample1), then 4-bit codes
    HIGH nibble first, nibbles round-robin across channels. Per code:
    predictor = ((s1*C1 + s2*C2) >> 8) + signed4(code) * delta, clamp
    int16, shift history, delta = max(16, (ADAPT[code] * delta) >> 8)."""
    import struct

    out_frames: list[list[int]] = []
    hdr = 7 * channels
    for boff in range(0, len(pcm), block_align):
        block = pcm[boff : boff + block_align]
        if len(block) < hdr:
            break
        preds = list(block[:channels])
        if any(p > 6 for p in preds):
            raise ValueError(f"MS ADPCM predictor index {max(preds)} > 6")
        off = channels
        delta = list(
            struct.unpack(f"<{channels}h", block[off : off + 2 * channels])
        )
        off += 2 * channels
        s1 = list(
            struct.unpack(f"<{channels}h", block[off : off + 2 * channels])
        )
        off += 2 * channels
        s2 = list(
            struct.unpack(f"<{channels}h", block[off : off + 2 * channels])
        )
        off += 2 * channels
        chans: list[list[int]] = [[s2[c], s1[c]] for c in range(channels)]
        t = 0
        for byte in block[off:]:
            for code in (byte >> 4, byte & 0xF):
                c = t % channels
                t += 1
                signed = code - 16 if code >= 8 else code
                base = (s1[c] * _MS_C1[preds[c]] + s2[c] * _MS_C2[preds[c]]) >> 8
                pred = base + signed * delta[c]
                pred = max(-32768, min(32767, pred))
                s2[c], s1[c] = s1[c], pred
                delta[c] = max(16, (_MS_ADAPT[code] * delta[c]) >> 8)
                chans[c].append(pred)
        n_frames = min(len(ch) for ch in chans)
        for f in range(n_frames):
            out_frames.append([chans[c][f] for c in range(channels)])
    return tuple(s for frame in out_frames for s in frame)


def synthesize_wav_msadpcm_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE files in MS
    ADPCM (fmt code 2, 4 bits/sample, mono, single block). Header
    fields (predictor index, idelta, sample1/sample2) and nibble codes
    are closed-form in doc_id so the SQL oracle replays the predictor-
    pair state machine as a recursive-CTE fold. Codes are drawn from a
    shrink-biased alphabet ({0..4, 13..15}): the spec has no upper
    delta clamp, so a uniformly random nibble stream (which no real
    encoder emits — codes track the residual) would grow delta ~122x
    per 16 nibbles and overflow the oracle's INT32 arithmetic; the
    biased alphabet keeps delta floored-and-bounded while still
    exercising both signs, the clamp, and the adaptation table."""

    def wav(doc_id):
        d = int(doc_id)
        n = 20 + (d % 6) * 10  # nibble count, even
        p = d % 7
        idelta = 16 + (d % 500) * 3
        s1 = ((d * 131 + 37) % 20001) - 10000
        s2 = ((d * 173 + 91) % 20001) - 10000
        alpha = (0, 1, 2, 3, 4, 13, 14, 15)
        codes = [alpha[(d * 11 + i * 7) % 8] for i in range(n)]
        data = bytes(
            (codes[j] << 4) | codes[j + 1] for j in range(0, n, 2)
        )
        header = bytes([p]) + struct.pack("<hhh", idelta, s1, s2)
        block_align = 7 + n // 2
        fmt = struct.pack(
            "<HHIIHHHH", 2, 1, _WAV_RATE,
            _WAV_RATE * block_align // (n + 2), block_align, 4,
            2, n + 2,
        )
        pcm = header + data
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


def synthesize_wav_adpcm_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE files in IMA
    ADPCM (fmt code 0x11, 4 bits/sample, mono, single block) — the
    classic 4:1 speech compressor. Header predictor/step-index and the
    nibble CODES are all closed-form in doc_id, so the SQL oracle can
    replay the decoder's full adaptive state machine as a list fold and
    reproduce every decoded sample exactly."""

    def wav(doc_id):
        d = int(doc_id)
        n = 24 + (d % 8) * 8  # nibble count, even
        p0 = ((d * 131) % 20001) - 10000
        i0 = d % 89
        codes = [(d * 7 + i * 13) % 16 for i in range(n)]
        data = bytes(
            codes[j] | (codes[j + 1] << 4) for j in range(0, n, 2)
        )
        block_align = 4 + n // 2
        header = struct.pack("<hBB", p0, i0, 0)
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, 1, _WAV_RATE,
            _WAV_RATE * block_align // (n + 1), block_align, 4,
            2, n + 1,  # cbSize=2, wSamplesPerBlock
        )
        pcm = header + data
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


def parse_wav(b: bytes) -> tuple[int, int, tuple[int, ...]]:
    """Parse a RIFF/WAVE byte stream → (sample_rate, channels,
    interleaved integer samples).

    Real chunk walk: tolerates unknown chunks (LIST/INFO/...) in any
    position, honors RIFF word alignment for odd-length bodies, and
    validates fmt. Decodes the full INTEGER-PCM matrix (r8): 8-bit
    (stored unsigned per the spec, returned centered at 0 by the
    conventional −128 offset), 16-bit, and 24-bit (3-byte little-endian
    two's-complement — the studio/DAW interchange depth), at ANY
    interleaved channel count (r9 — mono, stereo, and N-channel
    surround all deinterleave at stride ``channels``), plus BOTH G.711
    companding laws (fmt 7 mu-law, fmt 6 A-law — canonical integer
    expansions), BOTH classic ADPCMs (fmt 0x11 IMA and fmt 2 MS — r9,
    block walks + per-nibble adaptive state machines in
    _ima_adpcm_decode/_ms_adpcm_decode) and 32/64-bit IEEE-float
    (fmt 3 — returned as Python floats; every other format returns
    ints). Raises NotImplementedError only for encodings that
    genuinely need a codec library (MP3/AAC-in-WAV and other
    licensed codecs). Pure function so the walker is
    property-testable without a session."""
    import struct

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, rate, channels, pcm, bits = 12, None, None, None, None
    audio_fmt, block_align = None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (clen,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            block_align = struct.unpack("<H", body[12:14])[0]
            bits = struct.unpack("<H", body[14:16])[0]
            ok = (
                (audio_fmt == 1 and bits in (8, 16, 24))
                or (audio_fmt == 6 and bits == 8)   # G.711 A-law
                or (audio_fmt == 7 and bits == 8)   # G.711 mu-law
                or (audio_fmt == 3 and bits in (32, 64))  # IEEE float
                or (audio_fmt == 0x11 and bits == 4)  # IMA ADPCM
                or (audio_fmt == 2 and bits == 4)   # MS ADPCM
            )
            if not ok or channels < 1:
                raise NotImplementedError(
                    f"WAV fmt={audio_fmt} ch={channels} bits={bits}: "
                    "only 8/16/24-bit integer PCM, 8-bit G.711 A-law/"
                    "mu-law, 4-bit IMA/MS ADPCM and 32/64-bit IEEE-"
                    "float (any interleaved channel count) decodable "
                    "without a codec library"
                )
        elif cid == b"data":
            pcm = body
        pos += 8 + clen + (clen & 1)  # RIFF chunks are word-aligned
    if rate is None or pcm is None:
        raise ValueError("WAV missing fmt or data chunk")
    import struct as _s

    if audio_fmt == 0x11:  # IMA ADPCM: adaptive state machine per block
        if not block_align or block_align < 4 * channels:
            raise ValueError("ADPCM requires a sane block_align")
        samples = _ima_adpcm_decode(pcm, channels, block_align)
    elif audio_fmt == 2:  # MS ADPCM: predictor-pair state machine
        if not block_align or block_align < 7 * channels:
            raise ValueError("MS ADPCM requires a sane block_align")
        samples = _ms_adpcm_decode(pcm, channels, block_align)
    elif audio_fmt == 3 and bits == 64:  # float64 doubles
        n = len(pcm) // 8
        samples = _s.unpack(f"<{n}d", pcm[: n * 8])
    elif audio_fmt == 3:  # float32: samples are Python floats, not ints
        n = len(pcm) // 4
        samples = _s.unpack(f"<{n}f", pcm[: n * 4])
    elif bits == 16:
        n = len(pcm) // 2
        samples = _s.unpack(f"<{n}h", pcm[: n * 2])
    elif bits == 8 and audio_fmt == 7:
        samples = tuple(_mulaw_expand(v) for v in pcm)
    elif bits == 8 and audio_fmt == 6:
        samples = tuple(_alaw_expand(v) for v in pcm)
    elif bits == 8:
        samples = tuple(v - 128 for v in pcm)
    else:  # 24-bit: 3-byte LE two's-complement
        n = len(pcm) // 3
        samples = tuple(
            (v - 0x1000000) if (v := pcm[3 * i] | (pcm[3 * i + 1] << 8)
                                | (pcm[3 * i + 2] << 16)) >= 0x800000 else v
            for i in range(n)
        )
    return int(rate), int(channels), samples


def decode_wav(with_wav: DataFrame) -> DataFrame:
    """Decode RIFF/WAVE payloads to rate/duration/RMS via ``parse_wav``
    in Arrow-batched ``mapInPandas``. ``n_samples`` counts FRAMES
    (sample instants), so duration is channel-count-independent; rms is
    over every sample of every channel (== mono rms for mono input)."""

    def stats(doc_id, wav):
        rate, ch, samples = parse_wav(bytes(wav))
        n = len(samples)
        frames = n // ch
        rms = math.sqrt(sum(s * s for s in samples) / n) if n else 0.0
        yield int(doc_id), rate, frames, frames * 1000.0 / rate, rms

    return _map_rows(with_wav, ["doc_id", "wav"], WAV_SCHEMA, stats)


def _sample_st(doc_id: int, i: int, ch: int) -> int:
    """Deterministic per-channel int16 sample (channel 0 reduces to the
    mono formula) — closed-form in doc_id for the SQL oracle."""
    return ((doc_id * 131 + i * 37 + ch * 53) % 20001) - 10000


def synthesize_wav_stereo_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE files, 16-bit
    little-endian PCM STEREO @ 8 kHz (interleaved L/R from the
    closed-form per-channel formula), built per-partition in
    mapInPandas."""

    def wav(doc_id):
        d = int(doc_id)
        frames = 40 + (d % 15) * 20
        inter = [
            _sample_st(d, i, ch) for i in range(frames) for ch in range(2)
        ]
        pcm = struct.pack(f"<{len(inter)}h", *inter)
        # block align = channels * bytes/sample = 4
        fmt = struct.pack("<HHIIHH", 1, 2, _WAV_RATE, _WAV_RATE * 4, 4, 16)
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


WAV_STEREO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("rms_left", T.DoubleType()),
        T.StructField("rms_right", T.DoubleType()),
    ]
)


def decode_wav_stereo(with_wav: DataFrame) -> DataFrame:
    """Per-channel RMS over REAL stereo PCM payloads: ``parse_wav``
    de-interleaves at stride 2; each channel's sum of squares is an
    exact Python int, so the single sqrt-of-ratio per channel is
    bit-stable against the SQL oracle."""

    def stats(doc_id, wav):
        rate, ch, samples = parse_wav(bytes(wav))
        if ch != 2:
            raise ValueError(f"doc {doc_id}: expected stereo WAV, got ch={ch}")
        left, right = samples[0::2], samples[1::2]
        frames = len(left)
        yield (
            int(doc_id), rate, frames,
            math.sqrt(sum(s * s for s in left) / frames) if frames else 0.0,
            math.sqrt(sum(s * s for s in right) / frames) if frames else 0.0,
        )

    return _map_rows(with_wav, ["doc_id", "wav"], WAV_STEREO_SCHEMA, stats)


def synthesize_wav_multichannel_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE files, 16-bit
    little-endian PCM with 3-6 INTERLEAVED CHANNELS (surround layouts;
    nch = 3 + doc_id % 4) @ 8 kHz, per-channel samples from the same
    closed-form formula as the stereo fixture. Built per-partition in
    mapInPandas (r9 — closes the r8 two-channel ceiling)."""

    def wav(doc_id):
        d = int(doc_id)
        nch = 3 + d % 4
        frames = 30 + (d % 12) * 15
        inter = [
            _sample_st(d, i, ch)
            for i in range(frames)
            for ch in range(nch)
        ]
        pcm = struct.pack(f"<{len(inter)}h", *inter)
        # block align = channels * bytes/sample
        fmt = struct.pack(
            "<HHIIHH", 1, nch, _WAV_RATE, _WAV_RATE * 2 * nch,
            2 * nch, 16,
        )
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(docs, ["doc_id"], _payload_schema("wav"), wav)


WAV_MC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def decode_wav_multichannel(with_wav: DataFrame) -> DataFrame:
    """Per-channel RMS over N-CHANNEL PCM payloads, LONG format (one
    output row per channel — the shape that scales to any layout
    without per-channel columns): ``parse_wav`` returns the interleaved
    flat sample tuple; channel c deinterleaves at ``samples[c::nch]``.
    Channel sums of squares are exact Python ints, so the single
    sqrt-of-ratio per channel is bit-stable against the SQL oracle."""

    def channels(doc_id, wav):
        _rate, nch, samples = parse_wav(bytes(wav))
        frames = len(samples) // nch
        for c in range(nch):
            chan = samples[c::nch]
            rms = math.sqrt(sum(s * s for s in chan) / frames) if frames else 0.0
            yield int(doc_id), nch, c, frames, rms

    return _map_rows(with_wav, ["doc_id", "wav"], WAV_MC_SCHEMA, channels)


# ---------------------------------------------------------------------------
# JPEG/JFIF header walk — stdlib-only wire-format parsing (no libjpeg)
# ---------------------------------------------------------------------------

#: JFIF APP0 body: identifier, version 1.1, aspect-ratio units, 1x1
#: density, no thumbnail — the standard 14-byte payload
_JFIF_APP0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

#: markers that stand alone (no length word): SOI/EOI, TEM, RST0-7
_JPEG_BARE = {0xD8, 0xD9, 0x01} | set(range(0xD0, 0xD8))


def synthesize_jpeg_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, jpeg binary): structurally real JPEG/JFIF
    streams — SOI, APP0(JFIF), a VARIABLE-LENGTH COM segment carrying the
    doc's text head (so the parser must genuinely walk lengths, not use
    fixed offsets), SOF0 with the metadata dimensions, EOI. Entropy-coded
    scan data is omitted BY DESIGN here (header-only streams): dimension
    parsing is a header walk and must not depend on pixel payload. For
    full streams with a real scan, see encode_jpeg /
    synthesize_jpeg_pixel_payloads below (r9)."""

    def jpeg(doc_id, text):
        d = int(doc_id)
        w, h = 64 + (d % 16) * 32, 64 + (d % 9) * 32
        com = str(text)[:40].encode("utf-8")
        sof0 = struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
        yield d, (
            b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 2 + len(_JFIF_APP0)) + _JFIF_APP0
            + b"\xff\xfe" + struct.pack(">H", 2 + len(com)) + com
            + b"\xff\xc0" + struct.pack(">H", 2 + len(sof0)) + sof0
            + b"\xff\xd9"
        )

    return _map_rows(docs, ["doc_id", "text"], _payload_schema("jpeg"), jpeg)


def parse_jpeg_header(b: bytes) -> tuple[int, int, int, int, int]:
    """Walk a JPEG marker stream → (precision, height, width,
    n_components, com_len).

    Real segment walk: starts at SOI, honors FF fill bytes, skips
    unknown variable-length segments by their big-endian length words,
    records COM length, and stops at the first SOF0-SOF3 frame header.
    Progressive/arithmetic frames (SOF2 etc.) parse identically — the
    frame header layout is shared. Raises on truncation or a missing
    SOF. Pure function so the walker is fuzz-testable without a session
    (same contract as parse_wav above)."""
    import struct

    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    pos, com_len = 2, 0
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1  # FF fill bytes before a marker are legal
        marker = b[pos + 1]
        pos += 2
        if marker in _JPEG_BARE:
            if marker == 0xD9:
                break
            continue
        if pos + 2 > len(b):
            raise ValueError("truncated segment length")
        (seg_len,) = struct.unpack(">H", b[pos : pos + 2])
        if seg_len < 2 or pos + seg_len > len(b):
            raise ValueError("segment overruns stream")
        body = b[pos + 2 : pos + seg_len]
        if 0xC0 <= marker <= 0xC3:  # SOF0-SOF3 share the frame header
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            return precision, h, w, ncomp, com_len
        if marker == 0xFE:
            com_len = len(body)
        pos += seg_len
    raise ValueError("no SOF frame header found")


JPEG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("precision", T.IntegerType()),
        T.StructField("n_components", T.IntegerType()),
        T.StructField("com_len", T.IntegerType()),
    ]
)


def decode_jpeg_header(with_jpeg: DataFrame) -> DataFrame:
    """Parse JPEG frame headers via ``parse_jpeg_header`` in Arrow-batched
    ``mapInPandas``."""

    def header(doc_id, jb):
        precision, h, w, ncomp, com_len = parse_jpeg_header(bytes(jb))
        yield int(doc_id), w, h, precision, ncomp, com_len

    return _map_rows(with_jpeg, ["doc_id", "jpeg"], JPEG_SCHEMA, header)


# ---------------------------------------------------------------------------
# baseline JPEG entropy codec (r9) — REAL scan data, stdlib bitstream +
# numpy DCT. Encoder + decoder for baseline sequential DCT (SOF0),
# 8-bit, 1 or 3 components, sampling factors 1-2 per axis: 4:4:4 AND
# the dominant real-corpus layout 4:2:0 (2x2 luma MCUs, box-decimated
# chroma), plus 4:2:2/4:4:0 on the decode side. The decoder is general:
# it builds canonical Huffman tables FROM the DHT segments and
# dequantizes FROM the DQT segments, so it decodes any conforming
# baseline stream within those factors, not just this encoder's
# output, including DRI restart intervals (byte-aligned RST0-7 markers
# with modulo-8 sequence verification and DC-predictor resets) — in
# baseline AND progressive (SOF2) scans (r11). Sampling factors >2,
# lossless/arithmetic frames, and 16-bit quant tables raise
# NotImplementedError — honestly gated, fuzz-tested to raise.
# ---------------------------------------------------------------------------


def _zigzag_order() -> list[tuple[int, int]]:
    """The spec's zigzag traversal as (row, col) pairs — generated, not
    hand-typed: anti-diagonal s runs down-left for odd s, up-right for
    even s (ITU T.81 figure 5)."""
    out = []
    for s in range(15):
        rows = range(max(0, s - 7), min(s, 7) + 1)
        if s % 2 == 0:
            rows = reversed(rows)
        out.extend((r, s - r) for r in rows)
    return out


_ZIGZAG = _zigzag_order()

#: canonical Huffman specs this ENCODER writes into DHT (the decoder
#: reads whatever DHT declares): 12 DC categories at code length 4;
#: all 162 AC symbols (EOB, ZRL, run 0-15 x size 1-10) at length 8.
#: Both are valid (incomplete) canonical codes with no all-ones word.
_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_DC_VALUES = list(range(12))
_AC_VALUES = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_AC_COUNTS = [0] * 16
_AC_COUNTS[7] = len(_AC_VALUES)


def _canonical_codes(counts: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, bit length) per the canonical construction DHT
    implies (JPEG annex C)."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _dct_matrix():
    import numpy as np

    x = np.arange(8)
    a = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    a[0, :] *= 1 / np.sqrt(2)
    return a  # F = A @ p @ A.T ; p = A.T @ F @ A


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    """One JPEG marker segment: 0xFF, marker, 2-byte length, body."""
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (an 0xFF data
    byte is followed by 0x00) and 1-padding at flush (spec D.1.6)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def pad(self) -> None:
        """Byte-align with 1 bits (spec D.1.6)."""
        if self.n:
            self.put(0xFF, 8 - self.n)

    def marker(self, m: int) -> None:
        """Emit a bare marker (RSTn) into the scan: byte-align, then the
        raw FF xx pair — markers are NEVER byte-stuffed."""
        self.pad()
        self.out += bytes([0xFF, m])

    def flush(self) -> bytes:
        self.pad()
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, extra bits) of a DC diff / AC coefficient: category is
    bit_length(|v|); negatives store v + 2^size - 1 (one's complement
    convention of EXTEND, spec F.1.2.1)."""
    size = abs(v).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _encode_block(wtr, blk, a, qzz, zz_idx, pred, dc_codes, ac_codes) -> int:
    """FDCT -> quantize -> zigzag -> Huffman-code one 8x8 block; returns
    the new DC predictor. The quantize/zigzag step is one vectorized
    numpy expression (``zz_idx`` gathers the zigzag order, ``qzz`` is
    the quant table already in zigzag order); only nonzero symbols
    reach the Python-level Huffman writer."""
    import numpy as np

    coef = a @ blk @ a.T
    zz = np.rint(coef.ravel()[zz_idx] / qzz).astype(np.int64).tolist()
    diff = zz[0] - pred
    size, bits = _magnitude(diff)
    wtr.put(*dc_codes[size])
    if size:
        wtr.put(bits, size)
    run = 0
    last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            wtr.put(*ac_codes[0xF0])  # ZRL
            run -= 16
        size, bits = _magnitude(zz[k])
        wtr.put(*ac_codes[(run << 4) | size])
        wtr.put(bits, size)
        run = 0
    if last_nz < 63:
        wtr.put(*ac_codes[0x00])  # EOB
    return zz[0]


def encode_jpeg(
    planes: list[list[list[int]]],
    quant: list[int] | None = None,
    subsample_420: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG encoder with a REAL entropy-coded scan:
    level shift, float FDCT, quantization (``quant`` in NATURAL order,
    default all-16s), zigzag, canonical-Huffman DC-diff/AC-runlength
    coding with byte stuffing. ``planes`` is 1 (grayscale) or 3
    (as-coded e.g. YCbCr) full-resolution grids of 0-255 ints, all the
    same size; edges are replicated outward to the MCU grid and the
    true dimensions travel in SOF0 (the decoder crops back). All
    components share quant table 0 and Huffman pair 0. Default
    sampling is 1x1 everywhere (4:4:4); ``subsample_420`` encodes
    3-component input as 4:2:0 — luma at 2x2, both chromas box-mean
    downsampled 2x in each axis and coded at 1x1, MCU = 4 luma + 1 Cb
    + 1 Cr blocks, the dominant layout of real photo corpora.
    ``restart_interval`` > 0 emits a DRI segment and an RST0-7 marker
    (byte-aligned, DC predictors reset) after every that-many MCUs —
    what real encoders emit so corrupted scans resynchronize."""
    import struct

    import numpy as np

    ncomp = len(planes)
    if ncomp not in (1, 3):
        raise ValueError("encode_jpeg: 1 or 3 components")
    if subsample_420 and ncomp != 3:
        raise ValueError("4:2:0 needs 3 components")
    sampling = [(2, 2), (1, 1), (1, 1)] if subsample_420 else [(1, 1)] * ncomp
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    h, w = len(planes[0]), len(planes[0][0])
    qt = list(quant) if quant is not None else [16] * 64
    a = _dct_matrix()
    qzz = [qt[r * 8 + c] for r, c in _ZIGZAG]
    zz_idx = np.array([r * 8 + c for r, c in _ZIGZAG])
    qzz_arr = np.asarray(qzz, dtype=np.float64)
    dc_codes = _canonical_codes(_DC_COUNTS, _DC_VALUES)
    ac_codes = _canonical_codes(_AC_COUNTS, _AC_VALUES)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mx, my = (w + mcu_w - 1) // mcu_w, (h + mcu_h - 1) // mcu_h
    comp_arrays = []
    for ci, p in enumerate(planes):
        hi, vi = sampling[ci]
        arr = np.asarray(p, dtype=np.float64)
        # pad the FULL-RES plane to the MCU grid first, then box-mean
        # downsample to the component resolution (exact for the
        # constant fixtures; the standard chroma decimation otherwise)
        arr = np.pad(arr, ((0, my * mcu_h - h), (0, mx * mcu_w - w)),
                     mode="edge")
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:
            arr = arr.reshape(
                arr.shape[0] // fy, fy, arr.shape[1] // fx, fx
            ).mean(axis=(1, 3))
        comp_arrays.append(arr - 128.0)
    wtr = _BitWriter()
    pred = [0] * ncomp
    n_mcus = mx * my
    k = 0
    for by in range(my):
        for bx in range(mx):
            for ci in range(ncomp):
                hi, vi = sampling[ci]
                for v_ in range(vi):
                    for h_ in range(hi):
                        y0 = (by * vi + v_) * 8
                        x0 = (bx * hi + h_) * 8
                        blk = comp_arrays[ci][y0:y0 + 8, x0:x0 + 8]
                        pred[ci] = _encode_block(
                            wtr, blk, a, qzz_arr, zz_idx, pred[ci],
                            dc_codes, ac_codes,
                        )
            k += 1
            if (
                restart_interval
                and k % restart_interval == 0
                and k < n_mcus
            ):
                wtr.marker(0xD0 + ((k // restart_interval - 1) % 8))
                pred = [0] * ncomp
    scan = wtr.flush()

    dqt = _jpeg_seg(0xDB, bytes([0x00]) + bytes(qzz))
    sof_body = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hi, vi = sampling[ci]
        sof_body += bytes([ci + 1, (hi << 4) | vi, 0x00])
    sof = _jpeg_seg(0xC0, sof_body)
    dht = _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_VALUES)
    ) + _jpeg_seg(
        0xC4, bytes([0x10]) + bytes(_AC_COUNTS) + bytes(_AC_VALUES)
    )
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval else b""
    )
    sos_body = bytes([ncomp])
    for ci in range(ncomp):
        sos_body += bytes([ci + 1, 0x00])
    sos_body += bytes([0, 63, 0])
    sos = _jpeg_seg(0xDA, sos_body)
    app0 = _jpeg_seg(0xE0, _JFIF_APP0)
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht + dri + sos + scan
        + b"\xff\xd9"
    )


#: progressive AC Huffman spec: the baseline table lacks the EOBn
#: end-of-band run symbols ((n<<4)|0, n=1-14) progressive AC scans
#: emit — one flat 8-bit canonical code over every symbol such a scan
#: can use (162 baseline symbols + 14 EOBn; 176 < 255, no all-ones).
_PROG_AC_VALUES = (
    [n << 4 for n in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_PROG_AC_COUNTS = [0] * 16
_PROG_AC_COUNTS[7] = len(_PROG_AC_VALUES)


def _quantized_blocks(planes, quant):
    """Shared front half of both encoders: level shift, FDCT, quantize,
    zigzag — per component, a (blocks_y, blocks_x, 64) int array of
    zigzag-ordered quantized coefficients (1x1 sampling; edges padded
    by replication to whole blocks). Returns (h, w, qzz, stores)."""
    import numpy as np

    h, w = len(planes[0]), len(planes[0][0])
    qt = list(quant) if quant is not None else [16] * 64
    qzz = [qt[r * 8 + c] for r, c in _ZIGZAG]
    a = _dct_matrix()
    zz_idx = np.array([r * 8 + c for r, c in _ZIGZAG])
    bx, by = (w + 7) // 8, (h + 7) // 8
    qzz_arr = np.asarray(qzz, dtype=np.float64)
    stores = []
    for p in planes:
        arr = np.asarray(p, dtype=np.float64)
        arr = np.pad(
            arr, ((0, by * 8 - h), (0, bx * 8 - w)), mode="edge"
        ) - 128.0
        zz = np.zeros((by, bx, 64), dtype=np.int64)
        for yb in range(by):
            for xb in range(bx):
                blk = arr[yb * 8:yb * 8 + 8, xb * 8:xb * 8 + 8]
                # the EXACT per-block expression _encode_block uses —
                # a batched einsum can round np.rint the other way at
                # exact-half boundaries, and the tests pin progressive
                # and baseline streams decoding bit-identically
                coef = a @ blk @ a.T
                zz[yb, xb] = np.rint(
                    coef.ravel()[zz_idx] / qzz_arr
                ).astype(np.int64)
        stores.append(zz)
    return h, w, qzz, stores


def _emit_eobrun(wtr, ac_codes, eobrun: int, bbuf: list[int]) -> int:
    """Flush a pending end-of-band run (+ its buffered correction bits,
    AC-refine scans only). Returns the reset run count (0)."""
    if eobrun > 0:
        nbits = eobrun.bit_length() - 1
        wtr.put(*ac_codes[nbits << 4])
        if nbits:
            wtr.put(eobrun & ((1 << nbits) - 1), nbits)
        for bit in bbuf:
            wtr.put(bit, 1)
        bbuf.clear()
    return 0


def encode_jpeg_progressive(
    planes: list[list[list[int]]],
    quant: list[int] | None = None,
    dc_al: int = 1,
    ac_al: int = 1,
    ac_bands: Sequence[tuple[int, int]] = ((1, 5), (6, 63)),
    restart_interval: int = 0,
) -> bytes:
    """PROGRESSIVE JPEG encoder (SOF2) with a real multi-scan
    entropy-coded stream — spectral selection AND successive
    approximation. The scan SCRIPT is parameterized (``dc_al`` /
    ``ac_al`` pick the DC/AC successive-approximation depth, 0 = no
    approximation; ``ac_bands`` splits the 1..63 spectrum into
    contiguous bands that must tile it exactly), so the property tests
    can drive the decoder across arbitrary valid scripts. The default
    is the jpegtran-style script:

      DC first (all components interleaved, Al=1)
      per component: AC first  Ss=1-5 / 6-63 at Al=1
      per component: AC refine Ss=1-5 / 6-63, Ah=1 -> Al=0
      DC refine (Ah=1 -> Al=0)

    DC first codes (coef >> Al) diffs; DC refine appends the Al bit.
    AC first codes (|coef| >> Al) magnitudes with end-of-band runs
    (EOBn symbols + extra bits, accumulated ACROSS blocks); AC refine
    emits one sign bit per newly-visible coefficient and one
    correction bit per already-nonzero one, correction bits buffered
    through EOB runs — the T.81 §G / libjpeg coding model. 1 or 3
    components, 1x1 sampling (progressive subsampled scans are
    non-interleaved per component, so 4:2:0 adds nothing the decoder's
    per-component grids don't already cover). Same quant/DHT framing
    conventions as encode_jpeg; the AC table adds the EOBn symbols
    (``_PROG_AC_COUNTS``). Quantized coefficients are identical to
    encode_jpeg's, so progressive and baseline streams of one image
    decode to bit-identical pixels — the round-trip property the tests
    pin. ``restart_interval`` > 0 emits a DRI segment and RST0-7
    markers every Ri units in EVERY scan (unit = MCU for the
    interleaved DC scans, block for the per-component AC scans — T.81
    §G keeps restart semantics per scan): DC predictors reset, EOB
    runs (and their buffered refinement correction bits) never span a
    boundary."""
    import struct

    ncomp = len(planes)
    if ncomp not in (1, 3):
        raise ValueError("encode_jpeg_progressive: 1 or 3 components")
    h, w, qzz, stores = _quantized_blocks(planes, quant)
    by, bx = stores[0].shape[0], stores[0].shape[1]
    dc_codes = _canonical_codes(_DC_COUNTS, _DC_VALUES)
    ac_codes = _canonical_codes(_PROG_AC_COUNTS, _PROG_AC_VALUES)
    ri = int(restart_interval)
    scans: list[tuple[list[int], int, int, int, int, bytes]] = []

    def _boundary(wtr: _BitWriter, k: int) -> bool:
        """At unit ``k``: emit the modulo-8 RSTn when a restart interval
        is active and a boundary lands here. True = state resets."""
        if ri and k and k % ri == 0:
            wtr.marker(0xD0 + ((k // ri - 1) % 8))
            return True
        return False

    def dc_first(al: int) -> bytes:
        wtr = _BitWriter()
        preds = [0] * ncomp
        ku = 0
        for yb in range(by):
            for xb in range(bx):
                if _boundary(wtr, ku):
                    preds = [0] * ncomp
                ku += 1
                for ci in range(ncomp):
                    t = int(stores[ci][yb, xb, 0]) >> al
                    size, bits = _magnitude(t - preds[ci])
                    preds[ci] = t
                    wtr.put(*dc_codes[size])
                    if size:
                        wtr.put(bits, size)
        return wtr.flush()

    def dc_refine(al: int) -> bytes:
        wtr = _BitWriter()
        ku = 0
        for yb in range(by):
            for xb in range(bx):
                _boundary(wtr, ku)  # no cross-MCU state to reset
                ku += 1
                for ci in range(ncomp):
                    wtr.put((int(stores[ci][yb, xb, 0]) >> al) & 1, 1)
        return wtr.flush()

    def ac_first(ci: int, ss: int, se: int, al: int) -> bytes:
        wtr = _BitWriter()
        eobrun = 0
        ku = 0  # unit counter — the spectral loop below owns ``k``
        for yb in range(by):
            for xb in range(bx):
                if ri and ku and ku % ri == 0:
                    # an EOB run may never span a restart boundary
                    eobrun = _emit_eobrun(wtr, ac_codes, eobrun, [])
                    _boundary(wtr, ku)
                ku += 1
                cz = stores[ci][yb, xb]
                run = 0
                for k in range(ss, se + 1):
                    v = int(cz[k])
                    t = abs(v) >> al
                    if t == 0:
                        run += 1
                        continue
                    eobrun = _emit_eobrun(wtr, ac_codes, eobrun, [])
                    while run > 15:
                        wtr.put(*ac_codes[0xF0])
                        run -= 16
                    size, bits = _magnitude(t if v > 0 else -t)
                    wtr.put(*ac_codes[(run << 4) | size])
                    wtr.put(bits, size)
                    run = 0
                if run > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        eobrun = _emit_eobrun(wtr, ac_codes, eobrun, [])
        _emit_eobrun(wtr, ac_codes, eobrun, [])
        return wtr.flush()

    def ac_refine(ci: int, ss: int, se: int, al: int) -> bytes:
        wtr = _BitWriter()
        eobrun, bbuf = 0, []  # EOB run + its buffered correction bits
        ku = 0
        for yb in range(by):
            for xb in range(bx):
                if ri and ku and ku % ri == 0:
                    # flush the pending EOB run + its correction bits
                    # (_emit_eobrun clears bbuf; bbuf non-empty implies
                    # eobrun > 0 — bits only buffer alongside a run)
                    eobrun = _emit_eobrun(wtr, ac_codes, eobrun, bbuf)
                    _boundary(wtr, ku)
                ku += 1
                cz = stores[ci][yb, xb]
                absv = [abs(int(cz[k])) >> al for k in range(ss, se + 1)]
                eob = max(
                    (i for i, t in enumerate(absv) if t == 1), default=-1
                )
                run, br = 0, []  # current zero run + its correction bits
                for i, t in enumerate(absv):
                    if t == 0:
                        run += 1
                        continue
                    while run > 15 and i <= eob:
                        eobrun = _emit_eobrun(wtr, ac_codes, eobrun, bbuf)
                        wtr.put(*ac_codes[0xF0])
                        run -= 16
                        for bit in br:
                            wtr.put(bit, 1)
                        br = []
                    if t > 1:  # already visible: one correction bit
                        br.append(t & 1)
                        continue
                    eobrun = _emit_eobrun(wtr, ac_codes, eobrun, bbuf)
                    wtr.put(*ac_codes[(run << 4) | 1])
                    run = 0
                    wtr.put(1 if int(cz[ss + i]) > 0 else 0, 1)
                    for bit in br:
                        wtr.put(bit, 1)
                    br = []
                if run > 0 or br:
                    eobrun += 1
                    bbuf.extend(br)
                    if eobrun == 0x7FFF:
                        eobrun = _emit_eobrun(wtr, ac_codes, eobrun, bbuf)
        _emit_eobrun(wtr, ac_codes, eobrun, bbuf)
        return wtr.flush()

    # script validity: the AC bands must tile 1..63 exactly (a missing
    # coefficient would silently decode as zero; an overlap would be
    # coded twice), approximation depths must be sane
    covered = sorted(k for ss, se in ac_bands for k in range(ss, se + 1))
    if covered != list(range(1, 64)):
        raise ValueError(f"ac_bands {ac_bands!r} must tile 1..63 exactly")
    if not (0 <= dc_al <= 3 and 0 <= ac_al <= 3):
        raise ValueError("dc_al / ac_al must be in 0..3")
    scans.append((list(range(ncomp)), 0, 0, 0, dc_al, dc_first(dc_al)))
    for ci in range(ncomp):
        for ss, se in ac_bands:
            scans.append(([ci], ss, se, 0, ac_al, ac_first(ci, ss, se, ac_al)))
    for a in range(ac_al - 1, -1, -1):  # successive approximation chain
        for ci in range(ncomp):
            for ss, se in ac_bands:
                scans.append(
                    ([ci], ss, se, a + 1, a, ac_refine(ci, ss, se, a))
                )
    for a in range(dc_al - 1, -1, -1):
        scans.append((list(range(ncomp)), 0, 0, a + 1, a, dc_refine(a)))

    dqt = _jpeg_seg(0xDB, bytes([0x00]) + bytes(qzz))
    sof_body = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof_body += bytes([ci + 1, 0x11, 0x00])
    sof = _jpeg_seg(0xC2, sof_body)
    dht = _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_VALUES)
    ) + _jpeg_seg(
        0xC4,
        bytes([0x10]) + bytes(_PROG_AC_COUNTS) + bytes(_PROG_AC_VALUES),
    )
    dri = _jpeg_seg(0xDD, struct.pack(">H", ri)) if ri else b""
    out = b"\xff\xd8" + _jpeg_seg(0xE0, _JFIF_APP0) + dqt + sof + dht + dri
    for comp_ids, ss, se, ah, al, data in scans:
        sos_body = bytes([len(comp_ids)])
        for ci in comp_ids:
            sos_body += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
        sos_body += bytes([ss, se, (ah << 4) | al])
        out += _jpeg_seg(0xDA, sos_body) + data
    return out + b"\xff\xd9"


class _BitReader:
    """MSB-first reader over entropy-coded data with byte DE-stuffing;
    a non-stuffing marker inside the scan is an error (this decoder
    does not support restart intervals — DRI is rejected upstream)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.d = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.d):
                raise ValueError("entropy data truncated")
            b = self.d[self.pos]
            self.pos += 1
            if b == 0xFF:
                nb = self.d[self.pos] if self.pos < len(self.d) else None
                if nb == 0x00:
                    self.pos += 1
                else:
                    raise ValueError(
                        f"marker 0xFF{nb:02X} inside entropy data" if nb
                        is not None else "entropy data truncated at 0xFF"
                    )
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> int:
        """Consume an RSTn marker at a restart boundary: discard the
        current byte's remaining pad bits, then expect a raw FF Dn pair.
        Returns n (0-7) so the caller can verify the modulo-8 sequence."""
        self.n = 0  # drop pad bits — markers are byte-aligned
        if self.pos + 2 > len(self.d) or self.d[self.pos] != 0xFF:
            raise ValueError("expected restart marker at boundary")
        m = self.d[self.pos + 1]
        if not (0xD0 <= m <= 0xD7):
            raise ValueError(f"expected RSTn at boundary, got 0xFF{m:02X}")
        self.pos += 2
        return m - 0xD0


def _huff_decode(rdr: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | rdr.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(bits: int, size: int) -> int:
    """EXTEND (spec F.2.2.1): map ``size`` received bits back to the
    signed coefficient."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _comp_block_grid(comp, hmax, vmax, fw, fh) -> tuple[int, int]:
    """(rows, cols) of a component's OWN block grid for non-interleaved
    scans (T.81 A.2.2: ceil over the component's sample dimensions,
    NOT the MCU-padded extent)."""
    _, hi, vi, _ = comp
    cw = -(-fw * hi // hmax)
    ch = -(-fh * vi // vmax)
    return -(-ch // 8), -(-cw // 8)


def _prog_ac_first_block(rdr, act_tab, cz, ss, se, al, eobrun) -> int:
    """One block of a progressive AC FIRST scan (Ah=0): run/size coding
    with end-of-band runs; coefficients land shifted left by Al.
    Returns the remaining EOB run (T.81 G.2 / libjpeg decode model)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _huff_decode(rdr, act_tab)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1  # current block ends now
            if r:
                eobrun += rdr.bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run overflows spectral band")
        cz[k] = _extend(rdr.bits(s), s) << al
        k += 1
    return eobrun


def _prog_ac_refine_block(rdr, act_tab, cz, ss, se, al, eobrun) -> int:
    """One block of a progressive AC REFINEMENT scan (Ah=Al+1): one
    sign bit per newly-visible coefficient, one correction bit per
    already-nonzero coefficient crossed — including through EOB runs.
    Returns the remaining EOB run (the jdphuff decode model)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _huff_decode(rdr, act_tab)
            r, s = sym >> 4, sym & 0x0F
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("AC refinement size must be 1")
                newval = p1 if rdr.bit() else m1
            elif r != 15:
                eobrun = 1 << r  # current block consumed in the tail
                if r:
                    eobrun += rdr.bits(r)
                break
            # advance over r zero-history coefficients, appending
            # correction bits to nonzero-history ones along the way
            while k <= se:
                c = int(cz[k])
                if c != 0:
                    if rdr.bit() and (c & p1) == 0:
                        cz[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                cz[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:  # correction bits continue through the EOB run
            c = int(cz[k])
            if c != 0:
                if rdr.bit() and (c & p1) == 0:
                    cz[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def parse_jpeg_pixels(b: bytes) -> tuple[int, int, list[list[list[int]]]]:
    """Full baseline JPEG decode → (width, height, per-component pixel
    planes as Python lists, as coded — no color conversion). Thin
    wrapper over ``_parse_jpeg_planes`` (which returns numpy arrays —
    the stats operators use it directly to skip the list conversion).

    See _parse_jpeg_planes for the decode contract."""
    fw, fh, planes = _parse_jpeg_planes(b)
    return fw, fh, [p.tolist() for p in planes]


def _parse_jpeg_planes(b: bytes) -> tuple[int, int, list]:
    """Full baseline JPEG decode → (width, height, per-component pixel
    planes as numpy int64 arrays, as coded — no color conversion).

    Real decode, general over conforming inputs: canonical Huffman
    tables are built from the stream's own DHT segments, quantization
    from its DQT (8-bit precision), frame geometry from SOF0/SOF1;
    the scan is bit-read with byte de-stuffing, DC predicted per
    component, AC run-length/EOB/ZRL expanded, coefficients
    de-zigzagged, dequantized, and reconstructed with the float IDCT
    (numpy), level-shifted and clamped to 0..255. Sampling factors 1-2
    per axis are decoded for real — grayscale, 4:4:4, and the dominant
    photo layout 4:2:0 (interleaved Hi*Vi blocks per MCU, subsampled
    planes replication-upsampled to full resolution) — as are DRI
    restart intervals (RSTn consumed byte-aligned at each boundary,
    modulo-8 sequence verified, DC predictors reset), in baseline and
    progressive scans alike (r11: per-scan restart numbering, DC
    predictor + EOB-run resets at each boundary); factors >2,
    lossless/arithmetic frames, and 16-bit quant tables raise
    NotImplementedError. Cites the same
    marker-walk contract as parse_jpeg_header above; pure function +
    numpy, so the codec is property-testable without a session."""
    import struct

    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    pos = 2
    qts: dict[int, list[int]] = {}
    huffs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (h, w, [(comp_id, hi, vi, tq)])
    scan_info = None
    restart_ri = 0
    prog = False
    saw_eoi = False
    stores: list | None = None  # progressive: per-comp (by,bx,64) coefs
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1]
        pos += 2
        if marker in _JPEG_BARE:
            if marker == 0xD9:
                saw_eoi = True
                break
            continue
        (seg_len,) = struct.unpack(">H", b[pos:pos + 2])
        body = b[pos + 2:pos + seg_len]
        if marker == 0xDB:  # DQT: one or more tables per segment
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qts[tq] = list(body[o + 1:o + 65])
                o += 65
        elif marker == 0xC4:  # DHT: one or more tables per segment
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0x0F
                counts = list(body[o + 1:o + 17])
                nv = sum(counts)
                values = list(body[o + 17:o + 17 + nv])
                codes = _canonical_codes(counts, values)
                huffs[(tc, th)] = {
                    (ln, code): sym for sym, (code, ln) in codes.items()
                }
                o += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive
            precision, fh, fw, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = body[6 + 3 * ci:9 + 3 * ci]
                hi, vi = hv >> 4, hv & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factors {hi}x{vi} (1 or 2 only — "
                        "covers 4:4:4 / 4:2:2 / 4:4:0 / 4:2:0)"
                    )
                comps.append((cid, hi, vi, tq))
            frame = (fh, fw, comps)
            prog = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("non-baseline frame (lossless/"
                                      "arithmetic/hierarchical)")
        elif marker == 0xDD:  # DRI: restart every Ri MCUs
            (restart_ri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows the segment
            ns = body[0]
            scan_info = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4,
                 body[2 + 2 * i] & 0x0F)
                for i in range(ns)
            ]
            if not prog:
                pos += seg_len
                break
            # PROGRESSIVE: decode this scan's entropy data into the
            # coefficient stores, then continue the marker walk (the
            # stream holds many scans; pixels materialize only at EOI)
            if frame is None:
                raise ValueError("SOS before SOF")
            fh_, fw_, comps_ = frame
            hmax_ = max(c[1] for c in comps_)
            vmax_ = max(c[2] for c in comps_)
            mx_ = (fw_ + 8 * hmax_ - 1) // (8 * hmax_)
            my_ = (fh_ + 8 * vmax_ - 1) // (8 * vmax_)
            if stores is None:
                stores = [
                    np.zeros((my_ * vi, mx_ * hi, 64), dtype=np.int64)
                    for _, hi, vi, _ in comps_
                ]
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            idxs = []
            for cs, td, ta in scan_info:
                ci = next(
                    i for i, c in enumerate(comps_) if c[0] == cs
                )
                idxs.append((ci, td, ta))
            rdr = _BitReader(b, pos + seg_len)
            if ss == 0:  # DC scan (interleaved when ns > 1)
                if se != 0:
                    raise ValueError("DC scan must have Se=0")
                preds = [0] * len(idxs)

                def dc_block(si, cz):
                    if ah == 0:
                        size = _huff_decode(rdr, huffs[(0, idxs[si][1])])
                        preds[si] += _extend(rdr.bits(size), size)
                        cz[0] = preds[si] << al
                    elif rdr.bit():
                        cz[0] = int(cz[0]) | (1 << al)

                def _restart(k_u: int) -> bool:
                    # RSTn every Ri units in THIS scan (T.81 §G keeps
                    # restart semantics per scan; unit = MCU for the
                    # interleaved DC scan, block otherwise): verify the
                    # modulo-8 sequence, byte-align past the marker
                    if restart_ri and k_u and k_u % restart_ri == 0:
                        got = rdr.restart()
                        want = (k_u // restart_ri - 1) % 8
                        if got != want:
                            raise ValueError(
                                f"restart sequence broken: RST{got}, "
                                f"expected RST{want}"
                            )
                        return True
                    return False

                k_u = 0
                if len(idxs) > 1:
                    for by_ in range(my_):
                        for bx_ in range(mx_):
                            if _restart(k_u):
                                preds[:] = [0] * len(idxs)
                            k_u += 1
                            for si, (ci, _td, _ta) in enumerate(idxs):
                                _, hi, vi, _ = comps_[ci]
                                for v_ in range(vi):
                                    for h_ in range(hi):
                                        dc_block(si, stores[ci][
                                            by_ * vi + v_, bx_ * hi + h_
                                        ])
                else:
                    ci = idxs[0][0]
                    cbh, cbw = _comp_block_grid(
                        comps_[ci], hmax_, vmax_, fw_, fh_
                    )
                    for yb in range(cbh):
                        for xb in range(cbw):
                            if _restart(k_u):
                                preds[:] = [0]
                            k_u += 1
                            dc_block(0, stores[ci][yb, xb])
            else:  # AC scan: single component, non-interleaved
                if len(idxs) != 1:
                    raise ValueError("AC scans must be single-component")
                ci, _td, ta = idxs[0]
                act_tab = huffs[(1, ta)]
                cbh, cbw = _comp_block_grid(
                    comps_[ci], hmax_, vmax_, fw_, fh_
                )
                eobrun = 0
                blk_fn = (
                    _prog_ac_first_block if ah == 0
                    else _prog_ac_refine_block
                )
                k_u = 0
                for yb in range(cbh):
                    for xb in range(cbw):
                        if restart_ri and k_u and k_u % restart_ri == 0:
                            got = rdr.restart()
                            want = (k_u // restart_ri - 1) % 8
                            if got != want:
                                raise ValueError(
                                    f"restart sequence broken: RST{got},"
                                    f" expected RST{want}"
                                )
                            # a conforming encoder never lets an EOB run
                            # span a boundary; reset defensively
                            eobrun = 0
                        k_u += 1
                        eobrun = blk_fn(
                            rdr, act_tab, stores[ci][yb, xb],
                            ss, se, al, eobrun,
                        )
            pos = rdr.pos  # scan consumed; next marker follows
            continue
        pos += seg_len
    if prog:
        if stores is None:
            raise ValueError("progressive frame with no scans")
        if not saw_eoi:
            # a progressive viewer happily renders partial scans — a
            # STATS operator must not: a truncated stream would
            # silently report coarse-approximation pixels as final
            raise ValueError("truncated progressive stream (no EOI)")
        fh, fw, comps = frame
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        a = _dct_matrix()
        inv = a.T
        zz_idx = np.array([r * 8 + c for r, c in _ZIGZAG])
        out = []
        for ci, (_cid, hi, vi, tq) in enumerate(comps):
            dq = stores[ci].astype(np.float64) * np.asarray(
                qts[tq], dtype=np.float64
            )
            nat = np.zeros_like(dq)
            nat[:, :, zz_idx] = dq  # dezigzag
            nby, nbx = nat.shape[0], nat.shape[1]
            blocks = nat.reshape(nby, nbx, 8, 8)
            px = np.einsum("ij,abjk,kl->abil", inv, blocks, a) + 128.0
            px = np.clip(np.rint(px), 0, 255).astype(np.int64)
            plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
            fy, fx = vmax // vi, hmax // hi
            if fy > 1 or fx > 1:
                plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
            out.append(plane[:fh, :fw])
        return fw, fh, out
    if frame is None or scan_info is None:
        raise ValueError("missing SOF or SOS")
    fh, fw, comps = frame
    a = _dct_matrix()
    inv = a.T
    rdr = _BitReader(b, pos)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mx, my = (fw + mcu_w - 1) // mcu_w, (fh + mcu_h - 1) // mcu_h
    # each component decodes at ITS OWN resolution; subsampled planes
    # are replication-upsampled to full resolution after the scan
    planes = [
        np.zeros((my * vi * 8, mx * hi * 8), dtype=np.int64)
        for _, hi, vi, _ in comps
    ]
    preds = [0] * len(comps)
    comp_tables = []
    for cid, hi, vi, tq in comps:
        si = next(s for s in scan_info if s[0] == cid)
        comp_tables.append(
            (hi, vi, qts[tq], huffs[(0, si[1])], huffs[(1, si[2])])
        )
    zz_rc = [(r, c) for r, c in _ZIGZAG]
    k_mcu = 0
    for by in range(my):
        for bx in range(mx):
            if restart_ri and k_mcu and k_mcu % restart_ri == 0:
                got = rdr.restart()
                want = (k_mcu // restart_ri - 1) % 8
                if got != want:
                    raise ValueError(
                        f"restart sequence broken: RST{got}, expected "
                        f"RST{want}"
                    )
                preds = [0] * len(comps)
            k_mcu += 1
            for ci, (hi, vi, qt, dct_tab, act_tab) in enumerate(comp_tables):
                for v_ in range(vi):
                    for h_ in range(hi):
                        coef = np.zeros((8, 8))
                        size = _huff_decode(rdr, dct_tab)
                        preds[ci] += _extend(rdr.bits(size), size)
                        coef[0, 0] = preds[ci] * qt[0]
                        k = 1
                        while k < 64:
                            sym = _huff_decode(rdr, act_tab)
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += sym >> 4
                            if k > 63:
                                raise ValueError("AC run overflows block")
                            s = sym & 0x0F
                            r_, c_ = zz_rc[k]
                            coef[r_, c_] = _extend(rdr.bits(s), s) * qt[k]
                            k += 1
                        px = inv @ coef @ a + 128.0
                        y0 = (by * vi + v_) * 8
                        x0 = (bx * hi + h_) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = np.clip(
                            np.rint(px), 0, 255
                        ).astype(np.int64)
    out = []
    for ci, (_, hi, vi, _) in enumerate(comps):
        p = planes[ci]
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:
            p = np.repeat(np.repeat(p, fy, axis=0), fx, axis=1)
        out.append(p[:fh, :fw])
    return fw, fh, out


def synthesize_jpeg_pixel_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, jpeg binary): REAL baseline JPEGs with
    entropy-coded scan data (encode_jpeg), grayscale, sized in whole
    8x8 blocks (width 2-4 blocks, height 1-2). Each block is a CONSTANT
    gray — g = 2*((doc_id*7 + by*3 + bx) % 128), even by construction —
    chosen so the DCT round-trips EXACTLY: a constant block is DC-only
    (AC coefficients are identically zero), DC = 8*(g-128) is divisible
    by the quant step 16, so quantize→dequantize→IDCT reproduces g bit
    for bit and the pixel stats have a closed-form SQL oracle. The
    general (lossy) AC path is pinned by the property tests instead
    (tests/test_multimodal.py round-trips random blocks against an
    independent numpy reference)."""

    def jpeg(doc_id):
        import numpy as np

        d = int(doc_id)
        bw_, bh_ = 2 + d % 3, 1 + d % 2
        yy, xx = np.mgrid[0:bh_, 0:bw_]
        vals = 2 * ((d * 7 + yy * 3 + xx) % 128)
        grid = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        yield d, encode_jpeg([grid])

    return _map_rows(_ids_at_width(docs), ["doc_id"], _payload_schema("jpeg"), jpeg)


def synthesize_jpeg_progressive_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, jpeg binary): REAL progressive JPEGs
    (encode_jpeg_progressive — SOF2, multi-scan spectral selection +
    successive approximation), grayscale, sized in whole 8x8 blocks
    (width 2-5, height 1-3). Same DC-exact constant-block family as
    synthesize_jpeg_pixel_payloads (g = 2*((doc_id*11 + by*5 + bx) %
    128), even) so the full scan script round-trips exactly and the
    pixel stats keep a closed-form SQL oracle; the general lossy path
    is pinned by the progressive==baseline property test."""

    def jpeg(doc_id):
        import numpy as np

        d = int(doc_id)
        bw_, bh_ = 2 + d % 4, 1 + d % 3
        yy, xx = np.mgrid[0:bh_, 0:bw_]
        vals = 2 * ((d * 11 + yy * 5 + xx) % 128)
        grid = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        # alternate docs add a DRI scan script (restart markers in
        # every progressive scan) — same pixels, so the entry's
        # closed-form oracle is unchanged while the decoder's restart
        # path is exercised by the gate
        ri = 2 if d % 2 == 0 else 0
        yield d, encode_jpeg_progressive([grid], restart_interval=ri)

    return _map_rows(_ids_at_width(docs), ["doc_id"], _payload_schema("jpeg"), jpeg)


def synthesize_jpeg_420_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, jpeg binary): REAL 4:2:0 color JPEGs
    (encode_jpeg(subsample_420=True)) sized in whole 16x16 MCUs (width
    2-3, height 1-3). Luma is constant per 8x8 BLOCK, each chroma
    constant per MCU — all even values — so box decimation, the DCT
    round-trip, and replication upsampling are ALL exact and the
    per-plane pixel sums have a closed-form SQL oracle."""

    def jpeg(doc_id):
        import numpy as np

        def cellgrid(d, base, rows_, cols_, cell):
            # value matrix at cell grain, replicated to pixel grain —
            # numpy repeat, never a per-pixel Python loop
            yy, xx = np.mgrid[0:rows_, 0:cols_]
            vals = 2 * ((d + base + yy * 3 + xx) % 128)
            return np.repeat(np.repeat(vals, cell, axis=0), cell, axis=1)

        d = int(doc_id)
        mw, mh = 2 + d % 2, 1 + d % 3
        y_p = cellgrid(d * 5, 0, 2 * mh, 2 * mw, 8)
        cb = cellgrid(d * 7, 29, mh, mw, 16)
        cr = cellgrid(d * 7, 58, mh, mw, 16)
        yield d, encode_jpeg([y_p, cb, cr], subsample_420=True)

    return _map_rows(_ids_at_width(docs), ["doc_id"], _payload_schema("jpeg"), jpeg)


def synthesize_jpeg_restart_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, jpeg binary): the constant-block DC-exact
    fixture family (see synthesize_jpeg_pixel_payloads) but encoded
    WITH restart_interval=2 — DRI segment + byte-aligned RST0-7 markers
    every two MCUs, DC predictors reset at each boundary."""

    def jpeg(doc_id):
        import numpy as np

        d = int(doc_id)
        bw_, bh_ = 2 + d % 3, 1 + d % 2
        yy, xx = np.mgrid[0:bh_, 0:bw_]
        vals = 2 * ((d * 11 + yy * 3 + xx) % 128)
        grid = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        yield d, encode_jpeg([grid], restart_interval=2)

    return _map_rows(_ids_at_width(docs), ["doc_id"], _payload_schema("jpeg"), jpeg)


JPEG_420_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("y_sum", T.LongType()),
        T.StructField("cb_sum", T.LongType()),
        T.StructField("cr_sum", T.LongType()),
    ]
)


def decode_jpeg_420_stats(with_jpeg: DataFrame) -> DataFrame:
    """Full 4:2:0 decode via ``parse_jpeg_pixels`` in Arrow-batched
    ``mapInPandas``; per-plane exact integer sums at FULL resolution
    (chroma after replication upsampling)."""

    def sums(doc_id, jb):
        w, h, planes = _parse_jpeg_planes(bytes(jb))
        if len(planes) != 3:
            raise ValueError(f"doc {doc_id}: expected 3 components")
        yield (int(doc_id), w, h, *(int(p.sum()) for p in planes))

    return _map_rows(with_jpeg, ["doc_id", "jpeg"], JPEG_420_SCHEMA, sums)


JPEG_PX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("min_px", T.LongType()),
        T.StructField("max_px", T.LongType()),
        T.StructField("sum_px", T.LongType()),
    ]
)


def decode_jpeg_pixel_stats(with_jpeg: DataFrame) -> DataFrame:
    """Full-decode JPEG payloads via ``parse_jpeg_pixels`` in
    Arrow-batched ``mapInPandas`` and emit exact integer pixel stats of
    the (grayscale) plane."""

    def stats(doc_id, jb):
        w, h, planes = _parse_jpeg_planes(bytes(jb))
        if len(planes) != 1:
            raise ValueError(f"doc {doc_id}: expected grayscale")
        p = planes[0]
        yield int(doc_id), w, h, int(p.min()), int(p.max()), int(p.sum())

    return _map_rows(with_jpeg, ["doc_id", "jpeg"], JPEG_PX_SCHEMA, stats)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("hash_hi", T.LongType()),
        T.StructField("hash_lo", T.LongType()),
        T.StructField("n_ones", T.IntegerType()),
    ]
)


def ahash_image(with_png: DataFrame) -> DataFrame:
    """64-bit average-hash (aHash) of grayscale PNG payloads — the
    integer-exact member of the perceptual-hash family: the image is
    box-partitioned into an 8x8 cell grid and bit (cy*8+cx) is set iff
    the cell mean exceeds the image mean. Both comparisons run on EXACT
    integer cross-products (cell_sum * n_pixels > image_sum * cell_n),
    so the hash is bit-deterministic — no float mean ever materializes
    (pHash's DCT would put libm cosines in the hash path; aHash stays
    in integers end-to-end, which is why it is the one that can be
    oracle-checked exactly).

    Images narrower/shorter than 8 produce empty cells (x0 == x1);
    empty cells hash to 0 by definition (0 > anything*0 is false) —
    deterministic, mirrored in the SQL twin. Returned as two 32-bit
    words (the SimHash convention) + popcount; pairing belongs to the
    existing pigeonhole hamming machinery (operators/similarity.py).
    Arrow-batched mapInPandas; payload pruned from the output."""

    def ahash(doc_id, png):
        w, h, c, grid = decode_png(bytes(png))
        if c != 1:
            raise ValueError(f"doc {doc_id}: aHash expects grayscale")
        tot = sum(sum(r) for r in grid)
        npx = w * h
        bits = []
        for cy in range(8):
            for cx in range(8):
                x0, x1 = cx * w // 8, (cx + 1) * w // 8
                y0, y1 = cy * h // 8, (cy + 1) * h // 8
                s = sum(grid[y][x] for y in range(y0, y1) for x in range(x0, x1))
                ncell = (x1 - x0) * (y1 - y0)
                bits.append(1 if s * npx > tot * ncell else 0)
        hi = sum(b << i for i, b in enumerate(bits[:32]))
        lo = sum(b << i for i, b in enumerate(bits[32:]))
        yield int(doc_id), w, h, hi, lo, sum(bits)

    return _map_rows(with_png, ["doc_id", "png"], AHASH_SCHEMA, ahash)


def _pixel_rgba(doc_id: int, x: int, y: int, ch: int) -> int:
    """Channel ch of the RGBA fixture: channels 0-2 follow the RGB
    formula; alpha (ch 3) gets its own offset stream."""
    return (doc_id * 7 + y * 3 + x + 11 * ch) % 256


def synthesize_png_rgba_payloads(docs: DataFrame) -> DataFrame:
    """image-docs → (doc_id, png binary): real RGBA (color type 6) PNG
    files, filters cycling through all five types at the 4-byte pixel
    stride. Pixels closed-form in doc_id for the SQL oracle."""

    def png(doc_id):
        d = int(doc_id)
        w, h = 8 * (1 + d % 3), 4 * (1 + d % 4)
        grid = [
            [_pixel_rgba(d, x, y, ch) for x in range(w) for ch in range(4)]
            for y in range(h)
        ]
        yield d, encode_png(grid, lambda y: d + y, channels=4)

    return _map_rows(docs, ["doc_id"], _payload_schema("png"), png)


RGBA_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("mean_a", T.DoubleType()),
    ]
)


def decode_image_rgba(with_png: DataFrame) -> DataFrame:
    """Per-channel stats over REAL RGBA PNG payloads (4-byte-stride
    de-filter). Arrow-batched mapInPandas; payload pruned."""

    def stats(doc_id, png):
        import numpy as np

        w, h, c, grid = decode_png(bytes(png))
        if c != 4:
            raise ValueError(f"doc {doc_id}: expected RGBA PNG, got {c} channel(s)")
        m = np.array(grid, dtype=np.float64).reshape(h, w, 4).mean(axis=(0, 1))
        yield int(doc_id), w, h, float(m[0]), float(m[1]), float(m[2]), float(m[3])

    return _map_rows(with_png, ["doc_id", "png"], RGBA_STATS_SCHEMA, stats)


# -- ISO-BMFF (MP4) container walk -------------------------------------------

MP4_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("major_brand", T.StringType()),
        T.StructField("n_top_boxes", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("free_len", T.IntegerType()),
    ]
)

#: mvhd v0 movie timescale used by the synthesizer (the classic 600)
_MP4_TIMESCALE = 600


def synthesize_mp4_payloads(docs: DataFrame) -> DataFrame:
    """video-docs → (doc_id, mp4 binary): structurally real ISO-BMFF
    streams — ftyp, a VARIABLE-LENGTH free box carrying the doc's text
    head (so the walker must honor box sizes, not fixed offsets), a moov
    container with mvhd (v0: timescale/duration) and trak/tkhd (16.16
    fixed-point width/height), and an mdat written with the size==1 +
    64-bit largesize header — the extended-size path every real-world
    >4 GiB recording exercises. Entropy/sample data is omitted
    (header-only streams): duration/dimension parsing is a box walk and
    must not depend on media payload."""

    def box(fourcc: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + fourcc + payload

    def mp4(doc_id, text):
        d = int(doc_id)
        dur = (d % 90 + 1) * _MP4_TIMESCALE
        w, h = 320 + (d % 8) * 16, 240 + (d % 5) * 16
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp41")
        free = box(b"free", str(text)[:32].encode("utf-8"))
        mvhd = box(
            b"mvhd",
            struct.pack(">BxxxIIII", 0, 0, 0, _MP4_TIMESCALE, dur)
            + struct.pack(">IHH", 0x00010000, 0x0100, 0)
            + b"\x00" * 8
            + _MP4_UNITY_MATRIX
            + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        tkhd = box(
            b"tkhd",
            struct.pack(">BxxxIIIxxxxI", 0, 0, 0, 1, dur)
            + b"\x00" * 8
            + struct.pack(">HHHxx", 0, 0, 0)
            + _MP4_UNITY_MATRIX
            + struct.pack(">II", w << 16, h << 16),
        )
        moov = box(b"moov", mvhd + box(b"trak", tkhd))
        mdat_payload = b"\x00" * (d % 7)
        mdat = (
            struct.pack(">I", 1)
            + b"mdat"
            + struct.pack(">Q", 16 + len(mdat_payload))
            + mdat_payload
        )
        yield d, ftyp + free + moov + mdat

    return _map_rows(docs, ["doc_id", "text"], _payload_schema("mp4"), mp4)


_MP4_UNITY_MATRIX = (
    b"\x00\x01\x00\x00" + b"\x00" * 12
    + b"\x00\x01\x00\x00" + b"\x00" * 12
    + b"\x40\x00\x00\x00"
)


def _walk_boxes(b: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for each box in
    b[start:end], honoring 32-bit sizes, the size==1 64-bit largesize
    escape, and the size==0 to-end-of-enclosure convention. Raises on
    truncation, overrun, or a box too small to hold its own header."""
    import struct

    off = start
    while off < end:
        if off + 8 > end:
            raise ValueError(f"truncated box header at {off}")
        (size,) = struct.unpack(">I", b[off:off + 4])
        fourcc = b[off + 4:off + 8]
        hdr = 8
        if size == 1:
            if off + 16 > end:
                raise ValueError(f"truncated largesize at {off}")
            (size,) = struct.unpack(">Q", b[off + 8:off + 16])
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr:
            raise ValueError(f"box at {off} smaller than its header ({size})")
        if off + size > end:
            raise ValueError(f"box at {off} overruns enclosure ({size})")
        yield fourcc, off + hdr, off + size
        off += size


def parse_mp4_header(b: bytes) -> tuple[str, int, int, int, int, int, int]:
    """Walk an ISO-BMFF stream → (major_brand, n_top_boxes, timescale,
    duration, width, height, free_len).

    Real container walk: top-level boxes by size (largesize honored),
    one recursion into moov for mvhd (v0 timescale/duration) and the
    first trak's tkhd (v0, 16.16 fixed-point width/height). Unknown
    boxes skip by size. Raises on truncation, a missing ftyp/moov, or a
    v1 header (64-bit times — not emitted by the synthesizer; an
    explicit gate, not silent misparse). Pure function, fuzz-testable
    without a session (the parse_wav/parse_jpeg_header contract)."""
    import struct

    major = None
    timescale = duration = width = height = None
    free_len = 0
    n_top = 0
    for fourcc, ps, pe in _walk_boxes(b, 0, len(b)):
        n_top += 1
        if fourcc == b"ftyp":
            if pe - ps < 8:
                raise ValueError("ftyp too short")
            major = b[ps:ps + 4].decode("ascii")
        elif fourcc == b"free":
            free_len = pe - ps
        elif fourcc == b"moov":
            for f2, q2, e2 in _walk_boxes(b, ps, pe):
                if f2 == b"mvhd":
                    ver = b[q2]
                    if ver != 0:
                        raise ValueError(f"mvhd v{ver} (64-bit) not supported")
                    timescale, duration = struct.unpack(">II", b[q2 + 12:q2 + 20])
                elif f2 == b"trak" and width is None:
                    for f3, q3, e3 in _walk_boxes(b, q2, e2):
                        if f3 == b"tkhd":
                            ver = b[q3]
                            if ver != 0:
                                raise ValueError(f"tkhd v{ver} not supported")
                            wfx, hfx = struct.unpack(">II", b[e3 - 8:e3])
                            width, height = wfx >> 16, hfx >> 16
    if major is None:
        raise ValueError("missing ftyp")
    if timescale is None or width is None:
        raise ValueError("missing moov/mvhd/tkhd")
    return major, n_top, timescale, duration, width, height, free_len


def decode_mp4_header(with_mp4: DataFrame) -> DataFrame:
    """Parse ISO-BMFF headers via ``parse_mp4_header`` in Arrow-batched
    ``mapInPandas``; duration surfaces in exact integer milliseconds
    (duration * 1000 // timescale)."""

    def header(doc_id, mb):
        major, n_top, ts, dur, w, h, free_len = parse_mp4_header(bytes(mb))
        yield int(doc_id), major, n_top, dur * 1000 // ts, w, h, free_len

    return _map_rows(with_mp4, ["doc_id", "mp4"], MP4_SCHEMA, header)


# -- audio frequency-domain feature extraction --------------------------------

#: tone table for the detection demo: 440·(k+1) Hz — all exact DFT bins
#: at 8 kHz / 800 samples (10 Hz spacing), so there is zero spectral
#: leakage and the per-tone energies are separated by orders of magnitude
TONE_FREQS = (440, 880, 1320, 1760)
_TONE_N = 800
_TONE_AMP = 12000

TONE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("tone_idx", T.IntegerType()),
        T.StructField("freq_hz", T.IntegerType()),
    ]
)


def synthesize_wav_tone_payloads(docs: DataFrame) -> DataFrame:
    """audio-docs → (doc_id, wav binary): real RIFF/WAVE mono int16 PCM
    files each carrying a pure sine at ``TONE_FREQS[doc_id % 4]`` —
    the labeled fixture for frequency-domain feature extraction."""

    def wav(doc_id):
        d = int(doc_id)
        f = TONE_FREQS[d % 4]
        pcm = struct.pack(
            f"<{_TONE_N}h",
            *[
                int(round(_TONE_AMP * math.sin(2 * math.pi * f * i / _WAV_RATE)))
                for i in range(_TONE_N)
            ],
        )
        fmt = struct.pack("<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
        yield d, _riff_wav(fmt, pcm)

    return _map_rows(_ids_at_width(docs), ["doc_id"], _payload_schema("wav"), wav)


def detect_wav_tone(with_wav: DataFrame) -> DataFrame:
    """Single-bin DFT (Goertzel-style) tone classification of PCM audio
    in Arrow-batched ``mapInPandas``: decode via ``parse_wav``, project
    the sample vector onto cos/sin at each candidate frequency, pick
    the max-energy bin.

    Robustness contract (why a float pipeline is safe in an
    oracle-gated entry): the candidates are exact DFT bins of the
    synthesized length, so the true tone's energy is ~(N·A/2)² while
    every other bin is near zero — argmax is invariant to any ulp-level
    float noise, and the oracle checks only the recovered LABEL
    (doc_id % 4) plus exact integer metadata, never a float."""

    def tone(doc_id, wb):
        import numpy as np

        rate, ch, samples = parse_wav(bytes(wb))
        if ch != 1:
            raise ValueError(f"doc {doc_id}: tone detect expects mono")
        x = np.asarray(samples, dtype=np.float64)
        n = len(x)
        t = np.arange(n) / rate
        energies = [
            float(np.dot(x, np.cos(2 * np.pi * f * t)) ** 2
                  + np.dot(x, np.sin(2 * np.pi * f * t)) ** 2)
            for f in TONE_FREQS
        ]
        k = int(max(range(len(TONE_FREQS)), key=lambda i: energies[i]))
        yield int(doc_id), rate, n, k, TONE_FREQS[k]

    return _map_rows(with_wav, ["doc_id", "wav"], TONE_SCHEMA, tone)
