"""Multimodal operator tests: payload/metadata schema, Arrow batch
plumbing, frame arithmetic, the ASCII invariant the oracles rely on,
and the codec-stub contract."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import (
    multimodal as MM,
)
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.tpch import (
    read_table,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def payloads(spark):
    return MM.attach_payload(read_table(spark, SF_SMOKE, "documents")).cache()


def test_payload_schema(payloads):
    schema = dict((f.name, f.dataType) for f in payloads.schema.fields)
    assert isinstance(schema["payload"], T.BinaryType)
    got = [(f.name, f.dataType) for f in schema["meta"].fields]
    want = [(f.name, f.dataType) for f in MM.METADATA_TYPE.fields]
    assert got == want


def test_ascii_invariant(payloads, spark):
    """The DuckDB oracles equate chars with bytes; assert it holds."""
    docs = read_table(spark, SF_SMOKE, "documents")
    n = docs.filter(F.octet_length(F.encode("text", "UTF-8")) != F.length("text")).count()
    assert n == 0


def test_feature_extract_matches_local_hash(payloads):
    feats = {r["doc_id"]: r for r in MM.extract_features(payloads).collect()}
    sample = payloads.limit(20).collect()
    assert len(sample) == 20
    for row in sample:
        b = bytes(row["payload"])
        f = feats[row["doc_id"]]
        assert f["byte_len"] == len(b)
        assert f["sha256"] == hashlib.sha256(b).hexdigest()
        assert f["magic"] == b[:4].hex()
        assert 0.0 < f["byte_entropy"] <= 8.0


def test_frame_sample_covers_every_kth(payloads):
    frames = MM.sample_frames(payloads, frame_size=100, every=3)
    agg = frames.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("frame_idx").alias("max_idx")
    )
    joined = payloads.select(
        "doc_id", F.octet_length("payload").alias("blen")
    ).join(agg, "doc_id")
    for r in joined.collect():
        n_frames = (r["blen"] + 99) // 100
        expected = (n_frames + 2) // 3  # ceil(n_frames / 3)
        assert r["n"] == expected
        assert r["max_idx"] % 3 == 0


def test_frame_idx_multiples(payloads):
    bad = MM.sample_frames(payloads).filter(F.col("frame_idx") % 4 != 0).count()
    assert bad == 0


def test_map_rows_envelope_contract(spark):
    """The one Arrow envelope every multimodal operator runs through:
    empty input, rows that yield nothing (a whole batch comes out
    empty), 1→N expansion with the selected columns passed in order,
    and an exception in the per-row function raised at the action."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("k", T.LongType())]
    )
    # ids 0-3 | 4-7 | 8-11, one Arrow batch per partition
    src = spark.range(0, 12, numPartitions=3).withColumn("x", F.col("id") * 10)

    def expand(i, x):
        if i >= 4:  # partition 0 yields no row at all
            for k in range(i % 3):  # 0, 1 or 2 rows per input row
                yield i, x + k

    empty = spark.createDataFrame([], "id long, x long")
    assert MM._map_rows(empty, ["id", "x"], schema, expand).collect() == []

    out = MM._map_rows(src, ["id", "x"], schema, expand)
    assert out.rdd.glom().map(len).collect() == [0, 4, 5]
    assert sorted(tuple(r) for r in out.collect()) == [
        (i, i * 10 + k) for i in range(4, 12) for k in range(i % 3)
    ]

    def boom(i):
        if i == 7:
            raise ValueError("row 7 is corrupt")
        yield i, 0

    lazy = MM._map_rows(src, ["id"], schema, boom)  # nothing runs yet
    with pytest.raises(Exception, match="row 7 is corrupt"):
        lazy.collect()


# ---------------------------------------------------------------------------
# stdlib wire-format codecs: PNG (grayscale-8) and WAV (16-bit PCM mono)
# ---------------------------------------------------------------------------


def _grid(d, w, h):
    return [[MM._pixel(d, x, y) for x in range(w)] for y in range(h)]


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_roundtrip_each_filter(ft):
    grid = _grid(13, 24, 12)
    w, h, c, out = MM.decode_png(MM.encode_png(grid, lambda y: ft))
    assert (w, h, c, out) == (24, 12, 1, grid)


def test_png_roundtrip_mixed_filters():
    grid = _grid(7, 40, 16)
    _, _, _, out = MM.decode_png(MM.encode_png(grid, lambda y: y))  # cycles 0..4
    assert out == grid


def _rgb_grid(d, w, h):
    return [
        [MM._pixel_rgb(d, x, y, ch) for x in range(w) for ch in range(3)]
        for y in range(h)
    ]


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_rgb_roundtrip_each_filter(ft):
    grid = _rgb_grid(5, 12, 9)
    w, h, c, out = MM.decode_png(MM.encode_png(grid, lambda y: ft, channels=3))
    assert (w, h, c, out) == (12, 9, 3, grid)


def test_png_rgb_roundtrip_mixed_filters():
    grid = _rgb_grid(9, 20, 11)
    _, _, c, out = MM.decode_png(MM.encode_png(grid, lambda y: y, channels=3))
    assert c == 3 and out == grid


def test_png_crc_detects_corruption():
    png = bytearray(MM.encode_png(_grid(1, 8, 8), lambda y: 0))
    png[40] ^= 0xFF  # inside IDAT body
    with pytest.raises(ValueError, match="CRC"):
        MM.decode_png(bytes(png))


def test_png_invalid_depth_colortype_raises():
    import struct
    import zlib

    # r8: the depth matrix is COMPLETE (1/2/4/8/16 gray, 1/2/4/8
    # palette, 8/16 for the multi-channel types) — what remains is only
    # the spec-invalid combinations, which raise ValueError, never
    # misparse. 16-bit PALETTE is not a legal PNG (spec §11.2.2):
    ihdr16p = struct.pack(">IIBBBBB", 4, 4, 16, 3, 0, 0, 0)
    png16p = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr16p)
        + MM._png_chunk(b"PLTE", bytes(48))
        + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * (4 * 9)))
        + MM._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="invalid bitdepth"):
        MM.decode_png(png16p)
    # sub-byte TRUECOLOR is likewise invalid
    ihdr2rgb = struct.pack(">IIBBBBB", 4, 4, 2, 2, 0, 0, 0)
    png2rgb = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr2rgb)
        + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * 8))
        + MM._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="invalid bitdepth"):
        MM.decode_png(png2rgb)
    # unknown interlace method (2) raises rather than misparsing
    ihdr_il = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 2)
    png_il = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr_il)
        + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * (4 * 5)))
        + MM._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlace"):
        MM.decode_png(png_il)


def test_png_interlaced_roundtrip_mixed_filters():
    # 11x7: every Adam7 pass is partial; filters cycle within each pass
    grid = [[(x * 3 + y * 7) % 256 for x in range(11)] for y in range(7)]
    out = MM.decode_png(MM.encode_png(grid, lambda y: y, interlace=1))
    assert out == (11, 7, 1, grid)


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_sub8_roundtrip_mixed_filters(depth):
    # width 13 so packed rows carry pad bits at every depth
    mx = (1 << depth) - 1
    grid = [[(x + y * 3) & mx for x in range(13)] for y in range(6)]
    out = MM.decode_png(MM.encode_png(grid, lambda y: y, depth=depth))
    assert out == (13, 6, 1, grid)


def test_png_palette_roundtrip_all_filters():
    # every filter type appears (h=5, filter = y % 5); decode must
    # reproduce the palette-expanded RGB of the closed-form index grid
    w, h = 7, 5
    idx = [[MM._pixel_idx(3, x, y) for x in range(w)] for y in range(h)]
    png = MM.encode_png_palette(idx, MM._PALETTE, lambda y: y)
    dw, dh, c, grid = MM.decode_png(png)
    assert (dw, dh, c) == (w, h, 3)
    for y in range(h):
        for x in range(w):
            r, g, b = MM._PALETTE[idx[y][x]]
            assert grid[y][x * 3 : x * 3 + 3] == [r, g, b]


def test_png_palette_missing_plte_raises():
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    png = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * (2 * 3)))
        + MM._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        MM.decode_png(png)


def test_png_palette_out_of_range_index_raises():
    png = MM.encode_png_palette([[0, 15], [9, 2]], MM._PALETTE[:8], lambda y: 0)
    with pytest.raises(ValueError, match="palette index"):
        MM.decode_png(png)


def test_png_rgb_decode_spark(spark):
    docs = read_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") % 3 == 1).limit(6)
    rows = {r.doc_id: r for r in MM.decode_image_rgb(MM.synthesize_png_rgb_payloads(docs)).collect()}
    assert rows
    for d, r in rows.items():
        w, h = 8 * (1 + d % 4), 4 * (1 + d % 3)
        assert (r.width, r.height) == (w, h)
        for ch, col in enumerate(("mean_r", "mean_g", "mean_b")):
            want = sum(
                MM._pixel_rgb(d, x, y, ch) for x in range(w) for y in range(h)
            ) / (w * h)
            assert getattr(r, col) == pytest.approx(want)


def test_png_pixel_decode_spark(spark):
    docs = read_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") % 3 == 0).limit(6)
    rows = {r.doc_id: r for r in MM.decode_image(MM.synthesize_png_payloads(docs)).collect()}
    for d, r in rows.items():
        w, h = 8 * (1 + d % 6), 4 * (1 + d % 5)
        grid = _grid(d, w, h)
        assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
        assert r.mean_pixel == pytest.approx(sum(map(sum, grid)) / (w * h))


def test_resize_preserves_doc_mean(spark):
    # equal-size 2x2 boxes => mean of box means == global mean
    docs = read_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") % 3 == 0).limit(4)
    payloads_df = MM.synthesize_png_payloads(docs)
    small = (
        MM.resize_image(payloads_df, factor=2)
        .groupBy("doc_id")
        .agg(F.avg("value").alias("m"), F.count("*").alias("n"))
    )
    full = MM.decode_image(payloads_df).select("doc_id", "mean_pixel", "n_pixels")
    joined = small.join(full, "doc_id").collect()
    assert joined
    for r in joined:
        assert r.m == pytest.approx(r.mean_pixel)
        assert r.n * 4 == r.n_pixels


def test_wav_decode_spark(spark):
    docs = read_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") % 3 == 1).limit(6)
    rows = {r.doc_id: r for r in MM.decode_wav(MM.synthesize_wav_payloads(docs)).collect()}
    import math

    for d, r in rows.items():
        n = 50 + (d % 20) * 25
        samples = [MM._sample(d, i) for i in range(n)]
        assert (r.sample_rate, r.n_samples) == (8000, n)
        assert r.duration_ms == pytest.approx(n * 1000.0 / 8000)
        assert r.rms == pytest.approx(math.sqrt(sum(s * s for s in samples) / n))


def test_wav_non_pcm_is_codec_gated(spark):
    import struct

    # fmt chunk declaring MPEG Layer 3 (code 0x55): genuinely needs a
    # codec library, gate fires (PCM 8/16/24, G.711 both, IMA+MS ADPCM
    # and IEEE float32/64 all decode natively as of r9)
    fmt = struct.pack("<HHIIHH", 0x55, 1, 8000, 4000, 256, 0)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", 0)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, wav binary")
    with pytest.raises(Exception, match="NotImplementedError"):
        MM.decode_wav(df).collect()


# property-based codec round-trips (pure Python, no Spark)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 16),
        seed=st.integers(0, 2**31),
        data=st.data(),
    )
    def test_png_roundtrip_property(w, h, seed, data):
        """encode->decode is the identity for ANY grid and ANY per-row
        filter choice — the de-filter paths (None/Sub/Up/Average/Paeth)
        must each perfectly invert their filter, including first
        row/column edge handling."""
        import random

        rng = random.Random(seed)
        grid = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
        out = MM.decode_png(MM.encode_png(grid, lambda y: filters[y]))
        assert out == (w, h, 1, grid)

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 12),
        channels=st.sampled_from([1, 2, 3, 4]),
        seed=st.integers(0, 2**31),
        data=st.data(),
    )
    def test_png16_roundtrip_property(w, h, channels, seed, data):
        """r7: encode->decode identity for 16-bit grids of every
        non-palette color type under ANY filter sequence — the bytewise
        de-filter at the doubled stride plus big-endian reassembly must
        invert exactly, including first row/column edges and both byte
        lanes (values span the full 0..65535 range)."""
        import random

        rng = random.Random(seed)
        grid = [
            [rng.randrange(65536) for _ in range(w * channels)]
            for _ in range(h)
        ]
        filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
        out = MM.decode_png(
            MM.encode_png(grid, lambda y: filters[y], channels=channels, depth=16)
        )
        assert out == (w, h, channels, grid)

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(2, 12), h=st.integers(2, 8), pos=st.integers(0, 10**6))
    def test_png16_single_byte_corruption_never_silent(w, h, pos):
        """r7: the corruption property extends to depth 16 — flipping
        any byte after the signature must raise or decode identically."""
        grid = [[(x * 977 + y * 301) % 65536 for x in range(w)] for y in range(h)]
        png = bytearray(MM.encode_png(grid, lambda y: y, depth=16))
        idx = pos % len(png)
        png[idx] ^= 0xFF
        try:
            decoded = MM.decode_png(bytes(png))
        except Exception:
            return
        assert decoded == (w, h, 1, grid), "corrupted PNG16 decoded to different pixels"

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(2, 20), h=st.integers(2, 12), pos=st.integers(0, 10**6))
    def test_png_single_byte_corruption_never_silent(w, h, pos):
        """Flipping any single byte after the signature must raise
        (CRC/structure check) — corruption can never silently decode.
        Bytes in the 8-byte signature are caught by the signature check."""
        grid = [[(x * 7 + y) % 256 for x in range(w)] for y in range(h)]
        png = bytearray(MM.encode_png(grid, lambda y: y))
        idx = pos % len(png)
        png[idx] ^= 0xFF
        try:
            decoded = MM.decode_png(bytes(png))
        except Exception:
            return  # loud failure — the property holds
        # zlib's checksumless inflate can't happen: IDAT CRC covers the
        # compressed bytes, IHDR CRC covers dims — reaching here with a
        # DIFFERENT result would be silent corruption
        assert decoded == (w, h, 1, grid), "corrupted PNG decoded to different pixels"

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 20),
        h=st.integers(1, 14),
        channels=st.sampled_from([1, 2, 3, 4]),
        depth=st.sampled_from([8, 16]),
        seed=st.integers(0, 2**31),
    )
    def test_png_interlaced_roundtrip_property(w, h, channels, depth, seed):
        """r8: encode->decode identity for ADAM7-interlaced images of
        every non-palette color type at depths 8 and 16, any dims —
        including dims < 8 where whole passes are EMPTY and edge passes
        are partial; each pass carries its own filter state."""
        import random

        rng = random.Random(seed)
        mx = (1 << depth) - 1
        grid = [
            [rng.randint(0, mx) for _ in range(w * channels)] for _ in range(h)
        ]
        out = MM.decode_png(
            MM.encode_png(
                grid, lambda y: (seed + y) % 5, channels=channels,
                depth=depth, interlace=1,
            )
        )
        assert out == (w, h, channels, grid)

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 25),
        h=st.integers(1, 12),
        depth=st.sampled_from([1, 2, 4]),
        interlace=st.sampled_from([0, 1]),
        seed=st.integers(0, 2**31),
    )
    def test_png_sub8_roundtrip_property(w, h, depth, interlace, seed):
        """r8: encode->decode identity for sub-byte grayscale at any
        width (pad bits in most packed rows), sequential AND interlaced
        — MSB-first unpacking must drop exactly the row-end pad bits,
        per pass."""
        import random

        rng = random.Random(seed)
        mx = (1 << depth) - 1
        grid = [[rng.randint(0, mx) for _ in range(w)] for _ in range(h)]
        out = MM.decode_png(
            MM.encode_png(
                grid, lambda y: (seed + y) % 5, depth=depth, interlace=interlace
            )
        )
        assert out == (w, h, 1, grid)

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(2, 16), h=st.integers(2, 12), pos=st.integers(0, 10**6))
    def test_png_interlaced_corruption_never_silent(w, h, pos):
        """r8: the corruption property extends to interlaced streams —
        flipping any byte must raise or decode identically."""
        grid = [[(x * 7 + y) % 256 for x in range(w)] for y in range(h)]
        png = bytearray(MM.encode_png(grid, lambda y: y, interlace=1))
        idx = pos % len(png)
        png[idx] ^= 0xFF
        try:
            decoded = MM.decode_png(bytes(png))
        except Exception:
            return
        assert decoded == (w, h, 1, grid), "corrupted interlaced PNG decoded differently"

if _HAVE_HYPOTHESIS:

    @settings(max_examples=50, deadline=None)
    @given(
        n=st.integers(1, 64),
        junk_len=st.integers(0, 9),  # odd lengths exercise word-align padding
        junk_first=st.booleans(),
        seed=st.integers(0, 2**31),
    )
    def test_wav_chunk_walk_skips_unknown_chunks(n, junk_len, junk_first, seed):
        """parse_wav must decode the same samples regardless of unknown
        chunks (LIST/INFO/...) before or after fmt/data, honoring RIFF
        word alignment for odd-length chunk bodies."""
        import random
        import struct

        rng = random.Random(seed)
        samples = [rng.randrange(-10000, 10001) for _ in range(n)]
        pcm = struct.pack(f"<{n}h", *samples)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        junk_body = bytes(rng.randrange(256) for _ in range(junk_len))
        junk = (
            b"LIST" + struct.pack("<I", junk_len) + junk_body
            + (b"\x00" if junk_len % 2 else b"")
        )
        core = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm
        )
        body = b"WAVE" + (junk + core if junk_first else core + junk)
        wav = b"RIFF" + struct.pack("<I", len(body)) + body
        rate, ch, got = MM.parse_wav(wav)
        assert rate == 8000 and ch == 1
        assert list(got) == samples


def test_wav_stereo_roundtrip():
    """Stereo synth → parse_wav de-interleave: channel streams recover
    exactly, and the mono-formula channel 0 matches _sample."""
    import struct

    d, frames = 7, 12
    inter = [MM._sample_st(d, i, ch) for i in range(frames) for ch in range(2)]
    pcm = struct.pack(f"<{len(inter)}h", *inter)
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    rate, ch, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (rate, ch) == (8000, 2)
    assert list(got[0::2]) == [MM._sample_st(d, i, 0) for i in range(frames)]
    assert list(got[1::2]) == [MM._sample_st(d, i, 1) for i in range(frames)]
    assert [MM._sample_st(d, i, 0) for i in range(frames)] == [
        MM._sample(d, i) for i in range(frames)
    ]


def test_wav_multichannel_roundtrip():
    """N-channel (5.1-style, r9): parse_wav deinterleaves 6 channels at
    stride 6, each recovering its closed-form stream exactly."""
    import struct

    d, frames, nch = 11, 9, 6
    inter = [MM._sample_st(d, i, ch) for i in range(frames) for ch in range(nch)]
    pcm = struct.pack(f"<{len(inter)}h", *inter)
    fmt = struct.pack("<HHIIHH", 1, nch, 8000, 8000 * 2 * nch, 2 * nch, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    rate, ch, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (rate, ch) == (8000, nch)
    for c in range(nch):
        assert list(got[c::nch]) == [
            MM._sample_st(d, i, c) for i in range(frames)
        ]


def test_wav_zero_channels_gated():
    import struct

    fmt = struct.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(NotImplementedError, match="ch=0"):
        MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_wav_multichannel_decode_spark(spark):
    docs = spark.createDataFrame([(5,), (12,), (19,)], ["doc_id"])
    out = MM.decode_wav_multichannel(
        MM.synthesize_wav_multichannel_payloads(docs)
    ).collect()
    # one row per channel, nch = 3 + d % 4
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    for d, rows in per_doc.items():
        nch = 3 + d % 4
        assert len(rows) == nch
        assert {r.channel for r in rows} == set(range(nch))
        assert all(r.n_frames == 30 + (d % 12) * 15 for r in rows)


def test_jpeg_header_parse_spark(spark):
    docs = spark.createDataFrame(
        [(0, "hello world"), (3, "x" * 100), (9, "中文注释段")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: (r.width, r.height, r.precision, r.n_components, r.com_len)
        for r in MM.decode_jpeg_header(MM.synthesize_jpeg_payloads(docs)).collect()
    }
    assert out[0] == (64, 64, 8, 1, len("hello world"))
    assert out[3] == (64 + 3 * 32, 64 + 3 * 32, 8, 1, 40)
    # multibyte COM body: 5 chars → 15 UTF-8 bytes
    assert out[9] == (64 + 9 * 32, 64, 8, 1, 15)


def test_jpeg_parse_rejects_truncation_and_missing_sof():
    import struct

    import pytest as _pt

    good = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 11) + struct.pack(">BHHB", 8, 10, 20, 1) + b"\x01\x11\x00"
        + b"\xff\xd9"
    )
    assert MM.parse_jpeg_header(good)[1:3] == (10, 20)
    with _pt.raises(ValueError):
        MM.parse_jpeg_header(good[:-8])  # SOF length overruns stream
    with _pt.raises(ValueError):
        MM.parse_jpeg_header(b"\x89PNG" + good)  # no SOI
    no_sof = good[:2] + good[2:20] + b"\xff\xd9"
    with _pt.raises(ValueError):
        MM.parse_jpeg_header(no_sof)


if _HAVE_HYPOTHESIS:

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 4000),
        h=st.integers(1, 4000),
        n_junk=st.integers(0, 4),
        fill_ff=st.integers(0, 3),
        seed=st.integers(0, 2**31),
    )
    def test_jpeg_walk_skips_unknown_segments(w, h, n_junk, fill_ff, seed):
        """parse_jpeg_header must find SOF0 regardless of interleaved
        unknown variable-length segments (APPn/DQT/COM with arbitrary
        bodies) and FF fill bytes before markers."""
        import random
        import struct

        rng = random.Random(seed)
        segs = []
        com_len = 0
        for i in range(n_junk):
            marker = rng.choice([0xE1, 0xE7, 0xDB, 0xFE])
            body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 40)))
            if marker == 0xFE:
                com_len = len(body)  # walker reports the LAST COM
            segs.append(bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body)
        sof = (
            b"\xff" * fill_ff
            + b"\xff\xc0" + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
        )
        stream = b"\xff\xd8" + b"".join(segs) + sof + b"\xff\xd9"
        precision, gh, gw, ncomp, gcom = MM.parse_jpeg_header(stream)
        assert (precision, gh, gw, ncomp) == (8, h, w, 1)
        assert gcom == com_len


def test_png_gray_alpha_roundtrip_all_filters():
    # color type 4 (gray+alpha, bpp=2): every filter type appears; the
    # decode must reproduce the interleaved (gray, alpha) samples
    w, h = 5, 5
    grid = [
        [((3 * y + x * 2 + ch * 7) % 256) for x in range(w) for ch in range(2)]
        for y in range(h)
    ]
    png = MM.encode_png(grid, lambda y: y, channels=2)
    dw, dh, c, out = MM.decode_png(png)
    assert (dw, dh, c) == (w, h, 2)
    assert out == grid


def test_png_rgba_roundtrip_all_filters():
    w, h = 4, 5
    grid = [
        [((y * 11 + x * 5 + ch * 3) % 256) for x in range(w) for ch in range(4)]
        for y in range(h)
    ]
    png = MM.encode_png(grid, lambda y: y, channels=4)
    dw, dh, c, out = MM.decode_png(png)
    assert (dw, dh, c) == (w, h, 4)
    assert out == grid


def test_mp4_parse_rejects_truncation_and_missing_boxes():
    import struct

    import pytest as _pt

    def box(fourcc, payload):
        return struct.pack(">I", 8 + len(payload)) + fourcc + payload

    mvhd = box(
        b"mvhd",
        struct.pack(">BxxxIIII", 0, 0, 0, 600, 1200)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8 + MM._MP4_UNITY_MATRIX + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = box(
        b"tkhd",
        struct.pack(">BxxxIIIxxxxI", 0, 0, 0, 1, 1200)
        + b"\x00" * 8 + struct.pack(">HHHxx", 0, 0, 0)
        + MM._MP4_UNITY_MATRIX + struct.pack(">II", 640 << 16, 480 << 16),
    )
    good = (
        box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp41")
        + box(b"moov", mvhd + box(b"trak", tkhd))
    )
    assert MM.parse_mp4_header(good) == ("isom", 2, 600, 1200, 640, 480, 0)
    with _pt.raises(ValueError):
        MM.parse_mp4_header(good[:-5])  # tkhd overruns its enclosure
    with _pt.raises(ValueError):
        MM.parse_mp4_header(box(b"moov", mvhd))  # no ftyp
    with _pt.raises(ValueError):
        MM.parse_mp4_header(box(b"ftyp", b"isom" + b"\x00" * 4))  # no moov
    v1 = bytearray(good)
    v1[good.index(b"mvhd") + 4] = 1  # version byte after the fourcc
    with _pt.raises(ValueError):
        MM.parse_mp4_header(bytes(v1))


if _HAVE_HYPOTHESIS:

    @settings(max_examples=50, deadline=None)
    @given(
        n_junk=st.integers(0, 4),
        use_largesize=st.booleans(),
        seed=st.integers(0, 2**31),
    )
    def test_mp4_walk_skips_unknown_boxes(n_junk, use_largesize, seed):
        """parse_mp4_header must find moov/mvhd/tkhd regardless of
        interleaved unknown boxes (arbitrary fourcc/body, 32-bit or
        largesize headers) at top level."""
        import random
        import struct

        rng = random.Random(seed)

        def box(fourcc, payload):
            return struct.pack(">I", 8 + len(payload)) + fourcc + payload

        def junk():
            fourcc = bytes(rng.randrange(97, 123) for _ in range(4))
            body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 40)))
            if use_largesize and rng.random() < 0.5:
                return struct.pack(">I", 1) + fourcc + struct.pack(">Q", 16 + len(body)) + body
            return box(fourcc, body)

        mvhd = box(
            b"mvhd",
            struct.pack(">BxxxIIII", 0, 0, 0, 600, 4242)
            + struct.pack(">IHH", 0x00010000, 0x0100, 0)
            + b"\x00" * 8 + MM._MP4_UNITY_MATRIX + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        tkhd = box(
            b"tkhd",
            struct.pack(">BxxxIIIxxxxI", 0, 0, 0, 1, 4242)
            + b"\x00" * 8 + struct.pack(">HHHxx", 0, 0, 0)
            + MM._MP4_UNITY_MATRIX + struct.pack(">II", 1280 << 16, 720 << 16),
        )
        parts = [box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp41")]
        for _ in range(n_junk):
            parts.insert(rng.randrange(1, len(parts) + 1), junk())
        parts.append(box(b"moov", mvhd + box(b"trak", tkhd)))
        stream = b"".join(parts)
        major, n_top, ts, dur, w, h, _ = MM.parse_mp4_header(stream)
        assert (major, ts, dur, w, h) == ("isom", 600, 4242, 1280, 720)
        assert n_top == 2 + n_junk


def test_tone_detect_robust_to_noise():
    """Single-bin DFT classification must survive additive deterministic
    noise well below the tone amplitude (the argmax margin is the
    contract, not bit-exact energies)."""
    import math
    import struct

    import numpy as np

    for k, f in enumerate(MM.TONE_FREQS):
        samples = [
            int(round(12000 * math.sin(2 * math.pi * f * i / 8000)))
            + ((i * 2654435761) % 997 - 498)  # +/-500 hash noise
            for i in range(800)
        ]
        pcm = struct.pack("<800h", *samples)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (
            b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm
        )
        rate, ch, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
        x = np.asarray(got, dtype=np.float64)
        t = np.arange(len(x)) / rate
        es = [
            float(np.dot(x, np.cos(2 * np.pi * fq * t)) ** 2
                  + np.dot(x, np.sin(2 * np.pi * fq * t)) ** 2)
            for fq in MM.TONE_FREQS
        ]
        assert max(range(4), key=lambda i: es[i]) == k


def test_wav_pcm24_roundtrip():
    """24-bit encode→parse identity at the extremes of the sample range
    (two's-complement boundaries ±2^23)."""
    import struct

    vals = [0, 1, -1, 8388607, -8388608, 123456, -654321, 42]
    pcm = b"".join(struct.pack("<i", v & 0xFFFFFF)[:3] for v in vals)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 24000, 3, 24)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    rate, ch, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (rate, ch, list(got)) == (8000, 1, vals)


def test_wav_pcm8_centered():
    """8-bit PCM is stored unsigned (spec) and returned centered at 0."""
    import struct

    pcm = bytes([0, 128, 255, 100])
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    rate, ch, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert list(got) == [-128, 0, 127, -28]


# --- baseline JPEG entropy codec (r9) ---------------------------------------


def test_jpeg_constant_blocks_decode_exactly():
    """Even-valued constant blocks are DC-only with DC divisible by the
    quant step, so encode->decode is the IDENTITY — the property the
    mm_jpeg_pixel_decode oracle states in closed form."""
    for d in (0, 7, 37, 101):
        bw_, bh_ = 2 + d % 3, 1 + d % 2
        grid = [
            [2 * ((d * 7 + (y // 8) * 3 + (x // 8)) % 128) for x in range(bw_ * 8)]
            for y in range(bh_ * 8)
        ]
        w, h, planes = MM.parse_jpeg_pixels(MM.encode_jpeg([grid]))
        assert (w, h) == (bw_ * 8, bh_ * 8)
        assert planes[0] == grid


def test_jpeg_three_component_and_crop():
    """3-component 4:4:4 interleaves one block per component per MCU;
    non-multiple-of-8 frames crop back to the SOF dimensions."""
    pl = [
        [[(c * 40 + 2 * ((y // 8) + (x // 8)) * 10) % 256 for x in range(16)]
         for y in range(16)]
        for c in range(3)
    ]
    w, h, planes = MM.parse_jpeg_pixels(MM.encode_jpeg(pl))
    assert (w, h) == (16, 16) and len(planes) == 3
    g = [[(x * 3 + y * 7) % 256 for x in range(13)] for y in range(10)]
    w, h, p = MM.parse_jpeg_pixels(MM.encode_jpeg([g]))
    assert (w, h) == (13, 10)
    assert len(p[0]) == 10 and all(len(r) == 13 for r in p[0])


def test_jpeg_unsupported_features_gated():
    """Lossless/arithmetic frames, sampling factors beyond 2, and
    16-bit quant tables raise NotImplementedError — honest gates,
    never silent misdecodes. (Progressive SOF2 — including DRI restart
    intervals inside progressive scans, r11 — is now DECODED: see
    test_jpeg_progressive_equals_baseline_pixels and
    test_jpeg_progressive_restart_intervals.)"""
    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    soi = b"\xff\xd8"
    # lossless sequential SOF3
    sof3 = seg(0xC3, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
    with pytest.raises(NotImplementedError, match="non-baseline"):
        MM.parse_jpeg_pixels(soi + sof3 + b"\xff\xd9")
    # sampling factors beyond 2 (4x1 luma) stay gated; 2x2 (4:2:0)
    # itself is now SUPPORTED (test_jpeg_420_roundtrip below)
    sof41 = seg(
        0xC0,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + b"\x01\x41\x00" + b"\x02\x11\x00" + b"\x03\x11\x00",
    )
    with pytest.raises(NotImplementedError, match="sampling factors"):
        MM.parse_jpeg_pixels(soi + sof41 + b"\xff\xd9")
    # 16-bit quant table (Pq=1)
    dqt16 = seg(0xDB, bytes([0x10]) + bytes(128))
    with pytest.raises(NotImplementedError, match="16-bit"):
        MM.parse_jpeg_pixels(soi + dqt16 + b"\xff\xd9")


def test_jpeg_progressive_equals_baseline_pixels():
    """Progressive and baseline streams of one image encode the SAME
    quantized coefficients, so both must decode to bit-identical
    pixels — which transitively pins every progressive layer (spectral
    band splits, successive-approximation shifts, EOB runs, sign +
    correction bits) against the independently-tested baseline path."""
    import numpy as np

    rng = np.random.default_rng(41)
    for trial in range(8):
        h = int(rng.integers(8, 40))
        w = int(rng.integers(8, 40))
        ncomp = 1 if trial % 2 == 0 else 3
        planes = [
            rng.integers(0, 256, size=(h, w)).tolist() for _ in range(ncomp)
        ]
        fwb, fhb, pb = MM.parse_jpeg_pixels(MM.encode_jpeg(planes))
        fwp, fhp, pp = MM.parse_jpeg_pixels(
            MM.encode_jpeg_progressive(planes)
        )
        assert (fwb, fhb) == (fwp, fhp) == (w, h)
        assert pb == pp, f"trial {trial}: progressive != baseline"


def test_jpeg_progressive_restart_intervals():
    """DRI inside SOF2 scans (r11 — verdict #4, the combination cameras
    actually emit): restart markers every Ri units in EVERY scan of the
    multi-scan script — modulo-8 sequence verified, DC predictors
    reset, EOB runs (and buffered refinement correction bits) flushed
    at each boundary — must still decode bit-identical to the baseline
    stream, across scan scripts and interval lengths."""
    import numpy as np

    rng = np.random.default_rng(43)
    scripts = [
        dict(dc_al=1, ac_al=1, ac_bands=((1, 5), (6, 63))),
        dict(dc_al=0, ac_al=0, ac_bands=((1, 63),)),
        dict(dc_al=2, ac_al=2, ac_bands=((1, 2), (3, 20), (21, 63))),
    ]
    for trial in range(9):
        h = int(rng.integers(8, 40))
        w = int(rng.integers(8, 48))
        ncomp = 1 if trial % 2 == 0 else 3
        planes = [
            rng.integers(0, 256, size=(h, w)).tolist() for _ in range(ncomp)
        ]
        ri = [1, 2, 3][trial % 3]
        script = scripts[trial % 3]
        fwb, fhb, pb = MM.parse_jpeg_pixels(MM.encode_jpeg(planes))
        fwp, fhp, pp = MM.parse_jpeg_pixels(
            MM.encode_jpeg_progressive(planes, restart_interval=ri, **script)
        )
        assert (fwb, fhb) == (fwp, fhp) == (w, h)
        assert pb == pp, f"trial {trial} ri={ri}: DRI progressive != baseline"


def test_jpeg_progressive_restart_sequence_verified():
    """A swapped RSTn index inside a progressive scan raises (the
    modulo-8 verification is how a decoder detects dropped MCUs); the
    stream must contain real restart markers for this to be
    non-vacuous."""
    grid = [[(x * 5 + y * 3) % 256 for x in range(48)] for y in range(8)]
    b = MM.encode_jpeg_progressive([grid], restart_interval=2)
    i = b.find(b"\xff\xd1")  # RST1 (the second boundary)
    assert i > 0, "fixture emitted no RST1 marker"
    bad = b[:i + 1] + bytes([0xD5]) + b[i + 2:]
    with pytest.raises(ValueError, match="restart sequence"):
        MM.parse_jpeg_pixels(bad)


def test_jpeg_progressive_constant_blocks_decode_exactly():
    """The DC-exact fixture family survives the full progressive scan
    script (DC first at Al=1 + refine, split AC bands at Al=1 +
    refines): after all scans the coefficients are complete, so
    encode->decode is the identity — the mm_jpeg_progressive_decode
    oracle in closed form."""
    for d in (2, 7, 12, 33):
        bw_, bh_ = 2 + d % 4, 1 + d % 3
        grid = [
            [2 * ((d * 11 + (y // 8) * 5 + (x // 8)) % 128)
             for x in range(bw_ * 8)]
            for y in range(bh_ * 8)
        ]
        w, h, planes = MM.parse_jpeg_pixels(
            MM.encode_jpeg_progressive([grid])
        )
        assert (w, h) == (bw_ * 8, bh_ * 8)
        assert planes[0] == grid


def test_jpeg_progressive_truncation_never_silent():
    """A truncated progressive stream must RAISE, never return the
    partial-scan approximation as final pixels (a viewer renders
    partial scans by design; a stats operator must not): every
    truncation point either breaks a segment/entropy read or trips the
    no-EOI guard."""
    grid = [[2 * ((7 + (y // 8) * 5 + (x // 8)) % 128) for x in range(24)]
            for y in range(16)]
    b = MM.encode_jpeg_progressive([grid])
    for cut in range(2, len(b) - 1, 7):
        with pytest.raises(Exception):  # noqa: B017 — any raise is fine;
            MM.parse_jpeg_pixels(b[:cut])  # silent SUCCESS is the bug


def test_jpeg_pixel_decode_spark(spark):
    docs = spark.createDataFrame([(1,), (6,), (11,)], ["doc_id"])
    out = {
        r.doc_id: r
        for r in MM.decode_jpeg_pixel_stats(
            MM.synthesize_jpeg_pixel_payloads(docs)
        ).collect()
    }
    for d, r in out.items():
        bw_, bh_ = 2 + d % 3, 1 + d % 2
        gs = [
            2 * ((d * 7 + by * 3 + bx) % 128)
            for by in range(bh_) for bx in range(bw_)
        ]
        assert (r.width, r.height) == (bw_ * 8, bh_ * 8)
        assert (r.min_px, r.max_px, r.sum_px) == (
            min(gs), max(gs), sum(gs) * 64
        )


if _HAVE_HYPOTHESIS:

    @settings(max_examples=25, deadline=None)
    @given(
        bw=st.integers(1, 3),
        bh=st.integers(1, 3),
        seed=st.integers(0, 2**31),
    )
    def test_jpeg_roundtrip_property(bw, bh, seed):
        """General (lossy) path: for ANY pixel grid, decode(encode(g))
        equals an INDEPENDENT numpy reimplementation of the
        FDCT->quantize->dequantize->IDCT pipeline to within 1 LSB (the
        only slack is float rounding at half-way boundaries) — so the
        Huffman coding, byte stuffing, zigzag, DC prediction and AC
        run-length layers are exactly lossless."""
        import random

        import numpy as np

        rng = random.Random(seed)
        W, H = bw * 8, bh * 8
        grid = [[rng.randrange(256) for _ in range(W)] for _ in range(H)]
        w, h, planes = MM.parse_jpeg_pixels(MM.encode_jpeg([grid]))
        assert (w, h) == (W, H)
        a = MM._dct_matrix()
        arr = np.asarray(grid, float) - 128.0
        q = np.full((8, 8), 16.0)
        ref = np.zeros((H, W))
        for by in range(bh):
            for bx in range(bw):
                blk = arr[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                co = np.round((a @ blk @ a.T) / q) * q
                ref[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = np.clip(
                    np.rint(a.T @ co @ a + 128.0), 0, 255
                )
        assert np.abs(np.asarray(planes[0]) - ref).max() <= 1


def test_jpeg_420_constant_mcus_decode_exactly():
    """4:2:0: constant-per-MCU chroma + per-block luma (even values)
    round-trip exactly through decimation, DCT, and replication
    upsampling — the mm_jpeg_420_decode oracle property."""
    d, mw, mh = 9, 3, 2
    y_p = [
        [2 * ((d * 5 + (y // 8) * 3 + (x // 8)) % 128) for x in range(mw * 16)]
        for y in range(mh * 16)
    ]
    cb = [
        [2 * ((d * 7 + 29 + (y // 16) * 3 + (x // 16)) % 128)
         for x in range(mw * 16)]
        for y in range(mh * 16)
    ]
    cr = [
        [2 * ((d * 7 + 58 + (y // 16) * 3 + (x // 16)) % 128)
         for x in range(mw * 16)]
        for y in range(mh * 16)
    ]
    w, h, out = MM.parse_jpeg_pixels(
        MM.encode_jpeg([y_p, cb, cr], subsample_420=True)
    )
    assert (w, h) == (mw * 16, mh * 16)
    assert out == [y_p, cb, cr]


if _HAVE_HYPOTHESIS:

    @settings(max_examples=15, deadline=None)
    @given(
        mw=st.integers(1, 2),
        mh=st.integers(1, 2),
        crop_x=st.integers(0, 5),
        crop_y=st.integers(0, 5),
        seed=st.integers(0, 2**31),
    )
    def test_jpeg_420_roundtrip_property(mw, mh, crop_x, crop_y, seed):
        """General lossy 4:2:0 (random pixels, non-MCU-aligned crops):
        decode(encode(p)) equals an independent numpy reimplementation
        of pad -> box-decimate chroma -> FDCT/quant/dequant/IDCT ->
        replicate-upsample -> crop, to within 1 LSB per pixel."""
        import random

        import numpy as np

        rng = random.Random(seed)
        W, H = mw * 16 - crop_x, mh * 16 - crop_y
        pl = [
            [[rng.randrange(256) for _ in range(W)] for _ in range(H)]
            for _ in range(3)
        ]
        w, h, out = MM.parse_jpeg_pixels(
            MM.encode_jpeg(pl, subsample_420=True)
        )
        assert (w, h) == (W, H)
        a = MM._dct_matrix()
        q = np.full((8, 8), 16.0)

        def codec(arr):
            res = np.zeros_like(arr)
            for by in range(arr.shape[0] // 8):
                for bx in range(arr.shape[1] // 8):
                    blk = arr[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                    co = np.round((a @ blk @ a.T) / q) * q
                    res[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = np.clip(
                        np.rint(a.T @ co @ a + 128.0), 0, 255
                    )
            return res

        for ci in range(3):
            arr = np.pad(
                np.asarray(pl[ci], float),
                ((0, mh * 16 - H), (0, mw * 16 - W)), mode="edge",
            )
            if ci > 0:
                arr = arr.reshape(arr.shape[0] // 2, 2,
                                  arr.shape[1] // 2, 2).mean(axis=(1, 3))
            ref = codec(arr)
            if ci > 0:
                ref = np.repeat(np.repeat(ref, 2, axis=0), 2, axis=1)
            ref = ref[:H, :W]
            assert np.abs(np.asarray(out[ci]) - ref).max() <= 1


def test_jpeg_restart_interval_roundtrip():
    """DRI: a stream with RST markers every N MCUs decodes to EXACTLY
    the same pixels as the marker-free stream (predictor resets and
    byte-aligned marker consumption are transparent); a broken RSTn
    sequence raises instead of silently misdecoding."""
    import random

    rng = random.Random(5)
    for W, H, ri in [(24, 16, 1), (40, 24, 2), (21, 13, 3)]:
        g = [[rng.randrange(256) for _ in range(W)] for _ in range(H)]
        plain = MM.parse_jpeg_pixels(MM.encode_jpeg([g]))
        withri = MM.parse_jpeg_pixels(
            MM.encode_jpeg([g], restart_interval=ri)
        )
        assert plain == withri
    # 4:2:0 and DRI compose
    pl = [
        [[rng.randrange(256) for _ in range(33)] for _ in range(18)]
        for _ in range(3)
    ]
    assert MM.parse_jpeg_pixels(
        MM.encode_jpeg(pl, subsample_420=True)
    ) == MM.parse_jpeg_pixels(
        MM.encode_jpeg(pl, subsample_420=True, restart_interval=2)
    )
    # corrupted sequence number
    buf = bytearray(MM.encode_jpeg(
        [[[rng.randrange(256) for _ in range(32)] for _ in range(8)]],
        restart_interval=1,
    ))
    for i in range(len(buf) - 1):
        if buf[i] == 0xFF and buf[i + 1] == 0xD0:
            buf[i + 1] = 0xD5
            break
    with pytest.raises(ValueError, match="restart sequence"):
        MM.parse_jpeg_pixels(bytes(buf))


def test_wav_alaw_expansion_exhaustive():
    """_alaw_expand agrees with the closed-form SQL the oracle uses on
    ALL 256 byte values, and hits the spec extremes (±8 .. ±32256)."""
    vals = [MM._alaw_expand(u) for u in range(256)]
    assert min(vals) == -32256 and max(vals) == 32256
    assert sorted(abs(v) for v in vals)[0] == 8
    for u in range(256):
        a = u ^ 0x55
        seg = (a % 128) // 16
        t = (a % 16) * 16
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 264
        else:
            t = (t + 264) << (seg - 1)
        assert vals[u] == (t if a >= 128 else -t)


# -------------------------------------------------------------- IMA ADPCM


def _ima_reference_decode(codes, p0, i0):
    """Independent straight-line IMA reference (no shared helpers with
    the production _ima_step): tables from the published spec, diff via
    the same per-bit truncation, implemented with float-free ints."""
    steps = MM._IMA_STEPS  # the table itself is the published constant
    pred, idx, out = p0, i0, [p0]
    for c in codes:
        step = steps[idx]
        d = step >> 3
        d += step >> 2 if c & 1 else 0
        d += step >> 1 if c & 2 else 0
        d += step if c & 4 else 0
        pred = pred - d if c & 8 else pred + d
        pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
        idx += (-1, -1, -1, -1, 2, 4, 6, 8)[c & 7]
        idx = 0 if idx < 0 else (88 if idx > 88 else idx)
        out.append(pred)
    return out


def test_wav_adpcm_mono_matches_reference():
    """Synthesized fmt-0x11 file → parse_wav equals the independent
    reference decode of the same closed-form nibble stream."""
    import struct

    for d in (0, 3, 7, 42, 88, 123):
        n = 24 + (d % 8) * 8
        p0 = ((d * 131) % 20001) - 10000
        i0 = d % 89
        codes = [(d * 7 + i * 13) % 16 for i in range(n)]
        data = bytes(codes[j] | (codes[j + 1] << 4) for j in range(0, n, 2))
        block_align = 4 + n // 2
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, 1, 8000, 8000 * block_align // (n + 1),
            block_align, 4, 2, n + 1,
        )
        pcm = struct.pack("<hBB", p0, i0, 0) + data
        body = (
            b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm
        )
        rate, ch, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
        assert (rate, ch) == (8000, 1)
        assert list(got) == _ima_reference_decode(codes, p0, i0)


def test_wav_adpcm_stereo_round_robin_groups():
    """Stereo IMA ADPCM: after the two 4-byte headers, data alternates
    4-byte (8-nibble) units per channel; each channel's stream decodes
    independently and interleaves per frame."""
    import struct

    p = [(100, 10), (-200, 30)]
    codes = [[(3 + 5 * i) % 16 for i in range(8)],
             [(11 + 7 * i) % 16 for i in range(8)]]
    units = []
    for c in range(2):
        units.append(bytes(
            codes[c][j] | (codes[c][j + 1] << 4) for j in range(0, 8, 2)
        ))
    block = (
        struct.pack("<hBB", p[0][0], p[0][1], 0)
        + struct.pack("<hBB", p[1][0], p[1][1], 0)
        + units[0] + units[1]
    )
    block_align = len(block)
    fmt = struct.pack("<HHIIHHHH", 0x11, 2, 8000, 8000, block_align, 4, 2, 9)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(block)) + block
    )
    rate, ch, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (rate, ch) == (8000, 2)
    for c in range(2):
        assert list(got[c::2]) == _ima_reference_decode(
            codes[c], p[c][0], p[c][1]
        )


def test_wav_adpcm_multi_block_resets_state():
    """Two blocks: the second block's header re-seeds predictor/index —
    state never leaks across block boundaries."""
    import struct

    blocks = []
    expected = []
    for (p0, i0, base) in ((500, 5, 1), (-1500, 60, 9)):
        codes = [(base * 7 + i * 13) % 16 for i in range(8)]
        data = bytes(codes[j] | (codes[j + 1] << 4) for j in range(0, 8, 2))
        blocks.append(struct.pack("<hBB", p0, i0, 0) + data)
        expected.extend(_ima_reference_decode(codes, p0, i0))
    block_align = len(blocks[0])
    assert len(blocks[1]) == block_align
    pcm = b"".join(blocks)
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 8000, block_align, 4, 2, 9)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    rate, ch, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert list(got) == expected


def test_wav_adpcm_bad_step_index_raises():
    import struct

    pcm = struct.pack("<hBB", 0, 90, 0) + b"\x00\x00\x00\x00"
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 8000, len(pcm), 4, 2, 9)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    with pytest.raises(ValueError, match="step index"):
        MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


if _HAVE_HYPOTHESIS:

    @settings(max_examples=40, deadline=None)
    @given(
        d=st.integers(0, 2**31),
        n_pairs=st.integers(1, 40),
        p0=st.integers(-32768, 32767),
        i0=st.integers(0, 88),
    )
    def test_wav_adpcm_fuzz_matches_reference(d, n_pairs, p0, i0):
        import struct

        n = 2 * n_pairs
        codes = [(d * 13 + i * 17) % 16 for i in range(n)]
        data = bytes(codes[j] | (codes[j + 1] << 4) for j in range(0, n, 2))
        block_align = 4 + n // 2
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, 1, 8000, 8000, block_align, 4, 2, n + 1
        )
        pcm = struct.pack("<hBB", p0, i0, 0) + data
        body = (
            b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm
        )
        _, _, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
        assert list(got) == _ima_reference_decode(codes, p0, i0)


# --------------------------------------------------------------- MS ADPCM


def _ms_reference_decode(codes, pred_idx, idelta, s1, s2):
    """Independent straight-line MS ADPCM reference (published tables,
    no shared helpers with the production decoder)."""
    AT = (230, 230, 230, 230, 307, 409, 512, 614,
          768, 614, 512, 409, 307, 230, 230, 230)
    C1 = (256, 512, 0, 192, 240, 460, 392)
    C2 = (0, -256, 0, 64, 0, -208, -232)
    out, delta = [s2, s1], idelta
    for c in codes:
        sgn = c - 16 if c >= 8 else c
        pred = ((s1 * C1[pred_idx] + s2 * C2[pred_idx]) >> 8) + sgn * delta
        pred = max(-32768, min(32767, pred))
        s2, s1 = s1, pred
        delta = max(16, (AT[c] * delta) >> 8)
        out.append(pred)
    return out


def _ms_wav(codes, pred_idx, idelta, s1, s2, channels=1):
    import struct

    n = len(codes)
    data = bytes((codes[j] << 4) | codes[j + 1] for j in range(0, n, 2))
    header = bytes([pred_idx]) + struct.pack("<hhh", idelta, s1, s2)
    block_align = 7 + n // 2
    fmt = struct.pack(
        "<HHIIHHHH", 2, channels, 8000, 8000, block_align, 4, 2, n + 2
    )
    pcm = header + data
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_msadpcm_matches_reference():
    for d in (0, 5, 17, 230):
        alpha = (0, 1, 2, 3, 4, 13, 14, 15)
        codes = [alpha[(d * 11 + i * 7) % 8] for i in range(24)]
        rate, ch, got = MM.parse_wav(
            _ms_wav(codes, d % 7, 16 + d * 3, 1000 - d, -2000 + d)
        )
        assert (rate, ch) == (8000, 1)
        assert list(got) == _ms_reference_decode(
            codes, d % 7, 16 + d * 3, 1000 - d, -2000 + d
        )


def test_wav_msadpcm_bad_predictor_raises():
    with pytest.raises(ValueError, match="predictor index"):
        MM.parse_wav(_ms_wav([0, 0], 7, 16, 0, 0))


def test_wav_msadpcm_delta_floor_and_clamp():
    """All-max-negative codes drive the predictor into the -32768 clamp
    and the delta through its floor of 16 — both spec edges."""
    codes = [8] * 8 + [0] * 8  # 8 = strongest negative step (-8*delta)
    got = MM.parse_wav(_ms_wav(codes, 0, 20000, -30000, -30000))[2]
    assert min(got) == -32768
    ref = _ms_reference_decode(codes, 0, 20000, -30000, -30000)
    assert list(got) == ref


def test_wav_float64_roundtrip():
    import struct

    vals = [i / 32768.0 for i in range(-5, 6)]
    pcm = struct.pack(f"<{len(vals)}d", *vals)
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 64000, 8, 64)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    rate, ch, got = MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (rate, ch) == (8000, 1)
    assert list(got) == vals


if _HAVE_HYPOTHESIS:

    @settings(max_examples=40, deadline=None)
    @given(
        d=st.integers(0, 2**31),
        n_pairs=st.integers(1, 30),
        pred_idx=st.integers(0, 6),
        idelta=st.integers(16, 4000),
        s1=st.integers(-32768, 32767),
        s2=st.integers(-32768, 32767),
    )
    def test_wav_msadpcm_fuzz_matches_reference(
        d, n_pairs, pred_idx, idelta, s1, s2
    ):
        alpha = (0, 1, 2, 3, 4, 13, 14, 15)
        codes = [alpha[(d * 13 + i * 5) % 8] for i in range(2 * n_pairs)]
        got = MM.parse_wav(_ms_wav(codes, pred_idx, idelta, s1, s2))[2]
        assert list(got) == _ms_reference_decode(
            codes, pred_idx, idelta, s1, s2
        )


def test_wav_adpcm_multichannel_misaligned_data_raises():
    """Stereo IMA data whose length is a multiple of 4 but NOT of
    4*channels must raise (a lone unit would silently truncate the
    other channel via the frame min) — the review-found edge."""
    import struct

    block = (
        struct.pack("<hBB", 0, 0, 0) + struct.pack("<hBB", 0, 0, 0)
        + b"\x00\x00\x00\x00"  # ONE 4-byte unit for 2 channels
    )
    fmt = struct.pack("<HHIIHHHH", 0x11, 2, 8000, 8000, len(block), 4, 2, 9)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(block)) + block
    )
    with pytest.raises(ValueError, match="aligned"):
        MM.parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


if _HAVE_HYPOTHESIS:

    @settings(max_examples=20, deadline=None)
    @given(
        seed=st.integers(0, 2**31),
        dc_al=st.integers(0, 3),
        ac_al=st.integers(0, 3),
        cuts=st.lists(st.integers(2, 63), max_size=3, unique=True),
    )
    def test_jpeg_progressive_any_scan_script(seed, dc_al, ac_al, cuts):
        """ANY valid progressive scan script — arbitrary DC/AC
        successive-approximation depth (0..3) and arbitrary contiguous
        tiling of the 1..63 spectrum — must decode bit-identically to
        the baseline stream of the same image: the script only changes
        HOW the same quantized coefficients are serialized."""
        import numpy as np

        rng = np.random.default_rng(seed)
        h = int(rng.integers(8, 30))
        w = int(rng.integers(8, 30))
        planes = [rng.integers(0, 256, size=(h, w)).tolist()]
        edges = [1] + sorted(cuts) + [64]
        bands = tuple(
            (edges[i], edges[i + 1] - 1) for i in range(len(edges) - 1)
        )
        pb = MM.parse_jpeg_pixels(MM.encode_jpeg(planes))
        pp = MM.parse_jpeg_pixels(MM.encode_jpeg_progressive(
            planes, dc_al=dc_al, ac_al=ac_al, ac_bands=bands
        ))
        assert pb == pp

    @settings(max_examples=10, deadline=None)
    @given(bad=st.lists(st.integers(1, 63), min_size=1, max_size=4))
    def test_jpeg_progressive_rejects_non_tiling_bands(bad):
        """A band list that does not tile 1..63 exactly is rejected at
        ENCODE time — a missing coefficient would silently decode as
        zero, so the script validity check is load-bearing."""
        edges = sorted(set(bad))
        bands = tuple((e, e) for e in edges)  # gaps unless bad == 1..63
        if [k for ss, se in bands for k in range(ss, se + 1)] == list(
            range(1, 64)
        ):
            return  # degenerate all-singleton tiling is actually valid
        with pytest.raises(ValueError, match="tile 1..63"):
            MM.encode_jpeg_progressive(
                [[[0] * 8] * 8], ac_bands=bands
            )
