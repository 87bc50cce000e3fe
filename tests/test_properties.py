"""Property-based tests (hypothesis) for the cross-engine determinism
layer — the invariants every oracle comparison rests on."""

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from seamdb_spark.operators.hashing import (
    MINHASH_PRIME,
    md5_prefix_long_sql,
    minhash_value_sql,
)

finite_doubles = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


@st.composite
def double_and_scale(draw):
    """Samples within dround's documented contract domain:
    |x| * 10^n < 2^52 (every oracle-compared value is far below it)."""
    n = draw(st.integers(min_value=0, max_value=6))
    bound = (2.0**52) / (10.0**n)
    x = draw(st.floats(allow_nan=False, allow_infinity=False,
                       min_value=-bound, max_value=bound,
                       exclude_min=True, exclude_max=True))
    return x, n


@settings(max_examples=300, deadline=None)
@given(double_and_scale())
def test_dround_formula_matches_duckdb_round(case):
    """The python replica of dround's arithmetic (sign*floor(abs*p+.5)/p)
    must equal DuckDB's ROUND on the same binary double."""
    x, n = case
    p = float(10**n)
    scaled = abs(x) * p
    if scaled >= 2.0**52:  # |x| slightly under bound can still scale over
        mag = scaled / p
    else:
        mag = math.floor(scaled + 0.5) / p
    mine = math.copysign(mag, x) if x else 0.0
    # parameter binding: DuckDB's VARCHAR->DOUBLE literal parser is not
    # correctly rounded at 17 significant digits; real data never goes
    # through it (values come from parquet), so bind the double directly.
    duck = duckdb.connect().execute(f"SELECT ROUND(?, {n})", [x]).fetchall()[0][0]
    assert mine == duck or (x == 0 and duck == 0)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii", exclude_characters="'\\"), max_size=40))
def test_md5_prefix_long_sql_matches_python(s):
    """The DuckDB strpos-arithmetic hex parse must equal python's
    int(md5[:8], 16)."""
    import hashlib

    expected = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
    # bind the string as a parameter (a python repr is not a SQL literal)
    expr = md5_prefix_long_sql("?")
    n_params = expr.count("?")
    got = duckdb.connect().execute(f"SELECT {expr} AS h", [s] * n_params).fetchall()[0][0]
    assert got == expected


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.integers(min_value=1, max_value=2**30 - 1),
    st.integers(min_value=0, max_value=2**30),
)
def test_minhash_value_sql_no_overflow_and_matches_python(h, a, b):
    expected = (a * h + b) % MINHASH_PRIME
    got = duckdb.sql(
        f"SELECT {minhash_value_sql(f'CAST({h} AS BIGINT)', a, b)} AS v"
    ).fetchall()[0][0]
    assert got == expected


@pytest.mark.usefixtures("spark")
class TestSparkSideProperties:
    @settings(max_examples=30, deadline=None)
    @given(st.lists(finite_doubles, min_size=1, max_size=8))
    def test_dround_spark_matches_duckdb(self, spark, xs):
        from pyspark.sql import functions as F

        from seamdb_spark.operators.rounding import dround

        df = spark.createDataFrame([(x,) for x in xs], "x double")
        got = [r.r for r in df.select(dround(F.col("x"), 2).alias("r")).collect()]
        con = duckdb.connect()
        want = [con.execute("SELECT ROUND(?, 2)", [x]).fetchall()[0][0] for x in xs]
        assert got == want


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=100_000))
def test_chunk_window_formula_covers_sequence(n):
    """The shared chunk/window-count formula (t17 token chunks, m05 byte
    windows): 1 + ceil(max(0, n - size)/hop) windows of `size` at `hop`
    strides cover [1, n] exactly — the last window reaches n, no window
    starts beyond n, and consecutive windows overlap by size - hop."""
    from seamdb_spark.operators.text import CHUNK_STRIDE as hop
    from seamdb_spark.operators.text import CHUNK_TOKENS as size

    n_windows = 1 + max(0, -(-max(0, n - size) // hop))
    starts = [k * hop + 1 for k in range(n_windows)]
    ends = [min(s + size - 1, n) for s in starts]
    assert all(s <= n for s in starts)  # no empty window
    assert ends[-1] == n  # full coverage of the tail
    if n_windows > 1:
        assert starts[-1] + size - 1 >= n  # last window reaches the end
        # every gap between consecutive starts is exactly the hop
        assert all(b - a == hop for a, b in zip(starts, starts[1:]))
        # and the formula is minimal: one fewer window would leave a gap
        assert starts[-2] + size - 1 < n


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=64),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_build_decode_roundtrip(samples, rate):
    """build_wav -> decode_wav/wav_samples is the identity on sample
    values and format facts for any 16-bit mono signal."""
    from seamdb_spark.operators.multimodal import build_wav, decode_wav, wav_samples

    payload = build_wav(samples, rate)
    info = decode_wav(payload)
    assert info["sample_rate"] == rate
    assert info["n_frames"] == len(samples)
    assert info["abs_sum"] == sum(abs(s) for s in samples)
    assert wav_samples(payload) == samples


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
)
def test_bmp_build_decode_roundtrip(w, h):
    """build_bmp -> decode_bmp recovers dimensions and the exact pixel
    sum for any (w, h), including widths whose 3w bytes need stride
    padding (w % 4 != 0 cases)."""
    import hashlib

    from seamdb_spark.operators.multimodal import build_bmp, decode_bmp

    n = w * h * 3
    digest = hashlib.md5(f"{w}x{h}".encode()).digest()
    pixels = bytes(digest[i % 16] for i in range(n))
    info = decode_bmp(build_bmp(w, h, pixels))
    assert (info["width"], info["height"]) == (w, h)
    assert info["pixel_sum"] == sum(pixels)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=17),
    st.integers(min_value=1, max_value=17),
)
def test_bmp_pixels_roundtrip_and_ahash_bounds(w, h):
    """bmp_pixels inverts build_bmp exactly (stride padding stripped for
    every width class), and the aHash stays within its 16-bit range with
    at least one set bit (some cell is always >= the global mean)."""
    import hashlib

    from seamdb_spark.operators.multimodal import ahash_bmp, bmp_pixels, build_bmp

    n = w * h * 3
    digest = hashlib.md5(f"{w}x{h}".encode()).digest()
    pixels = bytes(digest[i % 16] for i in range(n))
    payload = build_bmp(w, h, pixels)
    assert bmp_pixels(payload) == pixels
    pw, ph, ah = ahash_bmp(payload)
    assert (pw, ph) == (w, h)
    assert 0 < ah < (1 << 16)


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_build_decode_roundtrip_bounded_error(bw, bh, seed):
    """build_jpeg -> decode_jpeg on arbitrary (hash-noise!) images:
    format facts recover exactly, and the lossy reconstruction error
    stays within the quantization bound even on worst-case content
    (noise maximizes high-frequency energy; measured <= 32 with the
    declared table, asserted <= 48 for slack). Exercises every entropy
    path: all DC/AC categories, ZRL runs, EOB, byte stuffing."""
    import hashlib

    import numpy as np

    from seamdb_spark.operators.multimodal import build_jpeg, decode_jpeg

    w, h = 8 * bw, 8 * bh
    n = w * h * 3
    rgb = bytearray()
    i = 0
    while len(rgb) < n:
        rgb += hashlib.md5(f"{seed}-{i}".encode()).digest()
        i += 1
    rgb = bytes(rgb[:n])
    payload = build_jpeg(w, h, rgb)
    out = decode_jpeg(payload)
    assert (out["width"], out["height"]) == (w, h)
    assert out["kind"] == "jpeg" and out["feat_dim"] == 3
    a = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
    b = np.frombuffer(out["pixels"], dtype=np.uint8).astype(np.int64)
    assert len(b) == n
    assert int(np.abs(a - b).max()) <= 48
    # determinism: same bytes in, same bytes out
    assert build_jpeg(w, h, rgb) == payload
    assert decode_jpeg(payload)["pixels"] == out["pixels"]


def test_jpeg_ahash_exactly_stable_on_ramps():
    """m16's pinned bound is Hamming <= 1; on the ramp fixtures the
    measured distance is exactly 0 — assert the stronger fact so a
    codec regression that starts flipping cells surfaces here first."""
    import numpy as np

    from seamdb_spark.operators.multimodal import (
        ahash_rgb,
        build_jpeg,
        decode_jpeg,
    )

    for d in [0, 9, 23, 41, 63]:
        d1, d2, d3 = d % 64, (d * 7) % 64, (d * 13) % 64
        xs = np.arange(16).reshape(1, 16)
        ys = np.arange(16).reshape(16, 1)
        rgb = np.stack(
            [d1 + 6 * xs + 3 * ys, d2 + 4 * xs + 5 * ys, d3 + 2 * xs + 7 * ys],
            axis=2,
        ).astype(np.uint8).tobytes()
        orig = ahash_rgb(16, 16, rgb)
        after = ahash_rgb(16, 16, decode_jpeg(build_jpeg(16, 16, rgb))["pixels"])
        assert orig == after, f"d={d}: {orig:016b} vs {after:016b}"


def test_jpeg_decoder_rejects_unsupported_variants():
    """The decoder's format boundary is explicit: progressive files,
    corrupted markers, and truncation raise ValueError (never a wrong
    answer); flat images reconstruct exactly (DC-only blocks)."""
    import numpy as np

    import pytest

    from seamdb_spark.operators.multimodal import (
        build_jpeg,
        decode_jpeg,
        decode_media,
    )

    flat = bytes([128]) * (8 * 8 * 3)
    payload = build_jpeg(8, 8, flat)
    out = decode_media(payload)  # magic sniff routes to decode_jpeg
    assert out["kind"] == "jpeg"
    assert np.frombuffer(out["pixels"], dtype=np.uint8).tolist() == list(flat)

    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8" + b"\x00" * 8)  # garbage after SOI
    with pytest.raises(ValueError):
        decode_jpeg(payload.replace(b"\xff\xc0", b"\xff\xc2", 1))  # SOF2
    with pytest.raises(ValueError):
        decode_jpeg(payload[: len(payload) // 2])  # truncated scan

    from seamdb_spark.operators.multimodal import (
        build_jpeg_420,
        build_jpeg_progressive,
    )

    raw = bytes(range(256)) * 3
    # a progressive SOF2 whose body is cut to 3 bytes (length field kept
    # consistent, so only the SOF reader can notice)
    prog = build_jpeg_progressive(16, 16, raw)
    at = prog.index(b"\xff\xc2")
    end = at + 2 + int.from_bytes(prog[at + 2:at + 4], "big")
    with pytest.raises(ValueError):
        decode_jpeg(prog[:at + 2] + b"\x00\x05" + prog[at + 4:at + 7] + prog[end:])
    # a 4:2:0 SOS naming a component the frame does not declare
    sub = build_jpeg_420(16, 16, raw)
    at = sub.index(b"\xff\xda") + 5  # first component id of the scan
    with pytest.raises(ValueError):
        decode_jpeg(sub[:at] + bytes([9]) + sub[at + 1:])


# Per builder: sha256 of its bytes, and of the sorted items of each
# decode_media() result (plus the sample/pixel readers' output for the
# formats that have one), over test_codec_output_is_pinned's matrix.
# The JPEG rows were recorded from the codec before it was rebuilt
# around one segment walker and one encoder front end; the other rows
# before the PNG encoder front end and the one BMP, RIFF and ISO-BMFF
# walkers. A codec change must reproduce them; they are not
# regenerated to make a test pass.
_CODEC_GOLDEN = {
    "build_jpeg": (
        "26da72ef7e2cb0bd2ed81d03f20926b54e4072b84b6f2c105b0d8d9980359000",
        "97b29bbbf53f5c10e70547094ded541daf115b0df8917bab184836ef14ad6008",
    ),
    "build_jpeg_progressive": (
        "7d10ca7a01330ae51a9bccefa479a2d5b8f6bd5b6f3c9b99b36665bdd6958a1a",
        "10b87189124e2f4d26af496c19701b4f80998ac17fe5bef549e45e3f7a6fcb9f",
    ),
    "build_jpeg_420": (
        "ef861bb59eeac2e222b1e2dffb6a007fd5d9df262eff19bdfb06ae6289970931",
        "1066a43dcd6ee95741c9807db161b5612805db5b86742e9f0c021910db765f0e",
    ),
    "build_png": (
        "b92906f2bab60a68f73b155ccbdab7231f50dd74348cab52780cd66480a60d61",
        "94fe529f4b29dfb1cd473877572192c51a6361eef4353ff0e910a88f3bd00fc9",
    ),
    "build_png_palette": (
        "455071f09f2008a36030e042f6e0727bac588e1e8de78a61531608a9e152f571",
        "d7d550fb505a57cc147ff8abd3a1af47352018993a4186850577556438f56584",
    ),
    "build_png_gray": (
        "076cb7f9287c0bc7dc7359a5234c2596e13d9cd13d51d4176679be07ec1488a0",
        "982b41f38b336758aade49bac8a33e5f77164be224965dcfdd29e79327b60f8c",
    ),
    "build_bmp": (
        "c1c19578fa12eadcf0b260f82e0112720709b217c1bbc208a225ed562c7e111c",
        "5f4768b25023ac43922f55c0f9e73e12f7ff39fbbcb84cdc6b00b6bcd3ba52ac",
    ),
    "build_wav": (
        "093a2762ada23b84b620de12acefb3e1678dc4009013eb773ed6745e49efc0d0",
        "d86a1780e8af37825e5999362746d34715c040ae405a708068dc07fe78ea3be5",
    ),
    "build_mp4": (
        "ed0d0a37e5fa488ea31414e4563fac9d6c4be112f96bddd1dc89dcb0262b25f2",
        "751845806043e08894e2c3ca00b13d1b4aff45be3f3dc179818ea2611b76d07d",
    ),
}


def _pinned_payloads(mm, name):
    """The builder matrix behind _CODEC_GOLDEN: a ramp and a
    seeded-noise image (or signal) per size, over each builder's
    variants."""
    import numpy as np

    def ramp(w, h):
        ys, xs = np.mgrid[0:h, 0:w]
        return np.stack(
            [(6 * xs + 3 * ys) % 256, (4 * xs + 5 * ys) % 256,
             (2 * xs + 7 * ys) % 256],
            axis=2,
        ).astype(np.uint8).tobytes()

    def noise(w, h):
        return np.random.default_rng(8).integers(
            0, 256, size=w * h * 3, dtype=np.uint8
        ).tobytes()

    build = getattr(mm, name)
    if name.startswith("build_jpeg"):
        for side in (16, 32):
            for image in (ramp, noise):
                rgb = image(side, side)
                for ri in (0, 1, 3):
                    yield build(side, side, rgb, restart_interval=ri)
        return
    if name == "build_wav":
        for n, channels in ((0, 1), (1, 1), (48, 1), (48, 2), (33, 3)):
            signal = np.random.default_rng(n).integers(
                -32768, 32768, size=n * channels
            )
            for rate in (8000, 44100):
                yield build(signal.tolist(), rate, channels)
        return
    if name == "build_mp4":
        for sizes, keys in (([1], [1]), ([10, 20], [1]),
                            ([5, 9, 300, 2], [1, 3])):
            yield build(1000, 40 * len(sizes), sizes, keys)
            frames = [noise(s, 1)[:s] for s in sizes]
            yield build(
                600, 90, sizes, list(range(1, len(sizes) + 1)),
                fourcc=b"jpeg", samples=frames,
            )
        return
    for w, h in ((1, 1), (2, 3), (7, 5), (16, 16), (23, 9)):
        for image in (ramp, noise):
            rgb = image(w, h)
            if name == "build_bmp":
                yield build(w, h, rgb)
                continue
            if name == "build_png_palette":
                rgb = bytes(v & 0xC0 for v in rgb)  # <= 64 colors
            elif name == "build_png_gray":
                rgb = rgb[::3]
            for interlace in (0, 1):
                yield build(w, h, rgb, interlace=interlace)


def test_codec_output_is_pinned():
    """Absolute pin of every media builder and decoder: each builder's
    matrix (_pinned_payloads) hashes to the recorded digests — both the
    encoded bytes and the full decoded dict (pixels included), plus
    bmp_pixels / wav_samples / extract_mp4_samples and mp4_mdat_offset
    for the formats they read. The round-trip tests only compare a
    codec with itself; this one catches a change that shifts encoder
    and decoder together."""
    import hashlib

    from seamdb_spark.operators import multimodal as mm

    readers = {
        b"BM": (mm.bmp_pixels,),
        b"RI": (mm.wav_samples,),
        b"\x00\x00": (mm.extract_mp4_samples, mm.mp4_mdat_offset),
    }
    got = {}
    for name in _CODEC_GOLDEN:
        hb, hd = hashlib.sha256(), hashlib.sha256()
        for payload in _pinned_payloads(mm, name):
            hb.update(payload)
            out = mm.decode_media(payload)
            hd.update(repr(sorted(out.items())).encode())
            for read in readers.get(payload[:2], ()):
                hd.update(repr(read(payload)).encode())
        got[name] = (hb.hexdigest(), hd.hexdigest())
    assert got == _CODEC_GOLDEN


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_bitexact(w, h, seed):
    """PNG is lossless: decode(build(x)) == x byte-for-byte for ANY
    pixel content and dimensions, the encoder's per-row filter cycle
    reaches the decoder intact, and encoding is deterministic."""
    import random

    from seamdb_spark.operators.multimodal import (
        build_png,
        decode_media,
        decode_png,
    )

    rng = random.Random(seed)
    rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
    payload = build_png(w, h, rgb)
    out = decode_media(payload)  # magic sniff routes to decode_png
    assert out["kind"] == "png"
    assert (out["width"], out["height"]) == (w, h)
    assert out["pixels"] == rgb
    assert out["filters"] == [y % 5 for y in range(h)]
    assert build_png(w, h, rgb) == payload
    assert decode_png(payload)["pixels"] == rgb


def test_png_decoder_boundary_is_explicit():
    """Corrupt chunk CRCs, unsupported color modes, truncated IDAT,
    and non-PNG signatures raise (never a wrong answer)."""
    import struct
    import zlib

    import pytest

    from seamdb_spark.operators.multimodal import build_png, decode_png

    payload = build_png(5, 4, bytes(range(60)))
    # flip one byte inside the first IDAT chunk's data -> CRC mismatch
    idat_at = payload.index(b"IDAT") + 4
    corrupted = (
        payload[:idat_at] + bytes([payload[idat_at] ^ 0xFF])
        + payload[idat_at + 1:]
    )
    with pytest.raises(ValueError):
        decode_png(corrupted)
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n")  # no chunks at all
    with pytest.raises(ValueError):
        decode_png(b"BM" + payload[2:])  # wrong signature
    # grayscale IHDR (color type 0) is outside the supported subset;
    # rebuild the chunk with a VALID crc so the mode check triggers
    ihdr = struct.pack(">IIBBBBB", 5, 4, 8, 0, 0, 0, 0)
    bad_mode = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError):
        decode_png(bad_mode + payload[8 + 25:])


@given(
    sig=st.integers(min_value=0, max_value=(1 << 32) - 1),
    flips=st.lists(
        st.integers(min_value=0, max_value=31), min_size=0, max_size=2
    ),
)
@settings(max_examples=200, deadline=None)
def test_exclude2of8_blocking_is_pigeonhole_complete(sig, flips):
    """For ANY 32-bit signature and ANY <=2 bit flips, the exclude-2-of-8
    table construction must key the two signatures identically in at
    least one table (the d03/d27 completeness invariant, checked in
    pure arithmetic against the same key formula the operators build
    in SQL)."""
    from itertools import combinations

    other = sig
    for b in flips:
        other ^= 1 << b

    def keys(v):
        out = {}
        for t, (i, j) in enumerate(combinations(range(8), 2)):
            kept = [k for k in range(8) if k not in (i, j)]
            out[t] = sum(
                ((v >> (k * 4)) & 15) << (p * 4) for p, k in enumerate(kept)
            )
        return out

    ka, kb = keys(sig), keys(other)
    shared = [t for t in ka if ka[t] == kb[t]]
    assert shared, f"hamming {bin(sig ^ other).count('1')} pair missed"
    if sig == other:
        assert len(shared) == 28


@given(
    w=st.integers(min_value=1, max_value=32),
    h=st.integers(min_value=1, max_value=32),
    ncol=st.sampled_from([1, 2, 3, 5, 17, 64, 255, 256]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_bitexact(w, h, ncol, seed):
    """GIF is lossless for palettized content: decode(build(x)) == x
    byte-for-byte for any <=256-color image — repeated colors exercise
    real LZW dictionary hits, and encoding is deterministic."""
    import random

    from seamdb_spark.operators.multimodal import (
        build_gif,
        decode_gif,
        decode_media,
    )

    rng = random.Random(seed)
    palette = [bytes(rng.randrange(256) for _ in range(3)) for _ in range(ncol)]
    rgb = b"".join(palette[rng.randrange(ncol)] for _ in range(w * h))
    payload = build_gif(w, h, rgb)
    out = decode_media(payload)  # magic sniff routes to decode_gif
    assert out["kind"] == "gif"
    assert (out["width"], out["height"]) == (w, h)
    assert out["pixels"] == rgb
    assert build_gif(w, h, rgb) == payload
    assert decode_gif(payload)["pixels"] == rgb


def test_gif_lzw_survives_dictionary_reset():
    """An image large enough to fill the 4096-entry LZW table forces
    the encoder's mid-stream clear/reset; the decoder must realign
    (codes re-narrow to min+1 bits) and still reconstruct exactly."""
    import random

    from seamdb_spark.operators.multimodal import build_gif, decode_gif

    rng = random.Random(99)
    palette = [bytes((i, 255 - i, i ^ 0x55)) for i in range(256)]
    rgb = b"".join(palette[rng.randrange(256)] for _ in range(120 * 120))
    out = decode_gif(build_gif(120, 120, rgb))
    assert out["pixels"] == rgb
    assert out["max_code_width"] == 12  # table actually filled


def test_gif_decoder_boundary_is_explicit():
    """Truncated sub-blocks, >256-color input, bad signatures, and
    out-of-sequence LZW codes raise (never a wrong answer); since
    round 8 the interlace flag DECODES (4-pass row permutation)
    instead of raising — flipping it on sequentially-stored data
    yields the row-permuted image, same pixel multiset."""
    import pytest

    from seamdb_spark.operators.multimodal import (
        _gif_interlace_rows,
        build_gif,
        decode_gif,
    )

    payload = build_gif(4, 3, bytes(range(36)))
    with pytest.raises(ValueError):
        decode_gif(b"BM" + payload[6:])  # wrong signature
    with pytest.raises(ValueError):
        decode_gif(payload[:20])  # truncated mid-color-table
    with pytest.raises(ValueError):
        decode_gif(payload[:-6])  # truncated sub-blocks
    # flipping the interlace flag on sequential data = mis-declared
    # layout: decodes (no error) to the row permutation of the source
    at = payload.index(b"\x2C")
    flagged = (
        payload[:at + 9] + bytes([payload[at + 9] | 0x40]) + payload[at + 10:]
    )
    got = decode_gif(flagged)["pixels"]
    src = bytes(range(36))
    order = _gif_interlace_rows(3)
    expect = bytearray(36)
    for j, y in enumerate(order):
        expect[y * 12:(y + 1) * 12] = src[j * 12:(j + 1) * 12]
    assert got == bytes(expect) != src
    with pytest.raises(ValueError):  # 257 distinct colors cannot palettize
        build_gif(257, 1, b"".join(
            bytes((i & 0xFF, i >> 8, 0)) for i in range(257)
        ))


@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    k=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=25, deadline=None)
def test_gif_animation_roundtrip_bitexact(w, h, k, seed):
    """Animated GIF: every frame decodes bit-exact with its own local
    color table, GCE delays survive the round trip in order, and the
    NETSCAPE looping extension is skipped cleanly."""
    import random

    from seamdb_spark.operators.multimodal import (
        build_gif_animation,
        decode_gif_frames,
    )

    rng = random.Random(seed)
    frames, delays = [], []
    for _ in range(k):
        ncol = rng.choice([1, 2, 7, 250])
        pal = [bytes(rng.randrange(256) for _ in range(3)) for _ in range(ncol)]
        frames.append(b"".join(pal[rng.randrange(ncol)] for _ in range(w * h)))
        delays.append(rng.randrange(0, 60000))
    payload = build_gif_animation(w, h, frames, delays)
    decoded = decode_gif_frames(payload)
    assert len(decoded) == k
    for j, f in enumerate(decoded):
        assert (f["width"], f["height"]) == (w, h)
        assert f["pixels"] == frames[j]
        assert f["delay_cs"] == delays[j]


def test_gif_animation_boundary_is_explicit():
    import pytest

    from seamdb_spark.operators.multimodal import (
        build_gif_animation,
        decode_gif_frames,
    )

    payload = build_gif_animation(2, 2, [bytes(12), bytes(range(12))], [1, 2])
    with pytest.raises(ValueError):
        decode_gif_frames(payload[:-2])  # truncated: second frame cut
    with pytest.raises(ValueError):
        build_gif_animation(2, 2, [bytes(12)], [1, 2])  # delay misalign
    # corrupt the GCE length byte of the first frame
    at = payload.index(b"\x21\xF9")
    with pytest.raises(ValueError):
        decode_gif_frames(payload[:at + 2] + b"\x05" + payload[at + 3:])


@given(
    n=st.integers(min_value=1, max_value=40),
    ts=st.integers(min_value=1, max_value=90000),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=30, deadline=None)
def test_mp4_container_probe_roundtrip(n, ts, seed):
    """ISO-BMFF probe: every header/table field written by build_mp4
    survives the recursive box walk, and the mdat byte accounting
    matches Σstsz for any sample-size vector."""
    import random

    from seamdb_spark.operators.multimodal import build_mp4, decode_mp4_probe

    rng = random.Random(seed)
    sizes = [rng.randrange(0, 5000) for _ in range(n)]
    keyframes = sorted(rng.sample(range(1, n + 1), rng.randrange(1, n + 1)))
    dur = rng.randrange(1, 1 << 31)
    info = decode_mp4_probe(build_mp4(ts, dur, sizes, keyframes))
    assert info["kind"] == "mp4" and info["brand"] == "isom"
    assert (info["timescale"], info["duration"]) == (ts, dur)
    assert info["handler"] == "vide" and info["codec"] == "avc1"
    assert info["n_samples"] == n
    assert info["sample_bytes"] == sum(sizes) == info["mdat_bytes"]
    assert info["keyframes"] == keyframes


def test_mp4_probe_boundary_is_explicit():
    """Bad box framing, missing tables, and mdat/stsz disagreement
    raise (never a wrong answer); frame decode is absent by design."""
    import struct

    import pytest

    from seamdb_spark.operators.multimodal import build_mp4, decode_mp4_probe

    payload = build_mp4(1000, 500, [10, 20], [1])
    with pytest.raises(ValueError):
        decode_mp4_probe(payload[:-4])  # truncated final box
    with pytest.raises(ValueError):
        decode_mp4_probe(b"\x00\x00\x00\x08ftyp")  # no moov/stsz
    # corrupt the first stsz entry so mdat accounting disagrees
    at = payload.index(b"stsz") + 4 + 12  # skip verflags+samplesize+count
    bad = payload[:at] + struct.pack(">I", 999) + payload[at + 4:]
    with pytest.raises(ValueError):
        decode_mp4_probe(bad)
    # blow up the stsz COUNT field: table now shorter than its count
    at = payload.index(b"stsz") + 4 + 8
    bad = payload[:at] + struct.pack(">I", 999) + payload[at + 4:]
    with pytest.raises(ValueError):
        decode_mp4_probe(bad)
    assert "pixels" not in decode_mp4_probe(payload)


def test_gif_lzw_width_bump_at_stream_tail():
    """Regression (hypothesis-found): when the decoder's table add
    after the FINAL literal crosses a power of two, the decoder reads
    EOI at the widened code size even though the encoder's own adds
    stalled — the encoder must emit EOI at the widened width. 15
    symbols over a 3-entry alphabet at min-code-size 2 lands the bump
    exactly on the EOI read."""
    import random

    from seamdb_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    r = random.Random(0)
    idx = [r.randrange(3) for _ in range(15)]
    out, _ = _gif_lzw_decode(_gif_lzw_encode(idx, 2), 2)
    assert out == idx
    # sweep every length around the boundary for several alphabets
    for ncol, mcs in ((2, 2), (3, 2), (5, 3), (16, 4)):
        for n in range(1, 70):
            rng = random.Random(1000 * ncol + n)
            seq = [rng.randrange(ncol) for _ in range(n)]
            got, _ = _gif_lzw_decode(_gif_lzw_encode(seq, mcs), mcs)
            assert got == seq, (ncol, mcs, n)


@given(
    orientation=st.integers(min_value=1, max_value=8),
    make=st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=12),
    model=st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=12),
    num=st.integers(min_value=0, max_value=2**32 - 1),
    den=st.integers(min_value=1, max_value=2**32 - 1),
    big_endian=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_exif_property_roundtrip(orientation, make, model, num, den, big_endian):
    """Any IFD0 field combination round-trips through the APP1 builder
    and parser in both byte orders — including empty/short ASCII
    (inline 4-byte storage) and long ASCII / RATIONAL (offset
    storage)."""
    from seamdb_spark.operators.multimodal import (
        build_exif_app1,
        build_jpeg_with_exif,
        build_jpeg,
        parse_exif,
        _ramp_rgb,
    )

    dt = "2021:06:01 12:00:00"
    app1 = build_exif_app1(orientation, make, model, dt, (num, den), big_endian)
    payload = build_jpeg_with_exif(16, 16, _ramp_rgb(1).tobytes(), app1)
    meta = parse_exif(payload)
    assert meta["orientation"] == orientation
    assert meta["make"] == make
    assert meta["model"] == model
    assert meta["datetime"] == dt
    assert meta["x_resolution"] == (num, den)
    assert meta["byte_order"] == ("MM" if big_endian else "II")


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=24),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_gif_interlace_property_roundtrip(w, h, data):
    """Any size x any (<=8-color) content round-trips through the
    4-pass interlaced GIF layout bit-identically, and the row order
    is always a permutation."""
    from seamdb_spark.operators.multimodal import (
        _gif_interlace_rows,
        build_gif,
        decode_gif,
    )

    assert sorted(_gif_interlace_rows(h)) == list(range(h))
    vals = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=7),
            min_size=w * h * 3,
            max_size=w * h * 3,
        )
    )
    rgb = bytes(v * 32 for v in vals)
    out = decode_gif(build_gif(w, h, rgb, interlaced=True))
    assert out["pixels"] == rgb


@given(
    k=st.integers(min_value=1, max_value=8),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=15, deadline=None)
def test_mjpeg_track_samples_decode_to_source_frames(k, seed):
    """Motion-JPEG container identity (the m41 kernel): JPEG payloads
    packed as mdat samples slice back byte-identically, every sample
    is a sync sample, the 'jpeg' fourcc survives the probe, and each
    sliced sample decodes to EXACTLY the pixels the same JPEG decodes
    to outside the container — the container layer adds or loses
    nothing."""
    import random

    from seamdb_spark.operators.multimodal import (
        build_jpeg,
        build_mp4,
        decode_jpeg,
        decode_mp4_probe,
        extract_mp4_samples,
        mp4_mdat_offset,
    )

    rng = random.Random(seed)
    frames = []
    for _ in range(k):
        rgb = bytes(rng.randrange(0, 256) for _ in range(16 * 16 * 3))
        frames.append(build_jpeg(16, 16, rgb))
    payload = build_mp4(
        1000, k * 40, [len(f) for f in frames],
        list(range(1, k + 1)), fourcc=b"jpeg", samples=frames,
    )
    info = decode_mp4_probe(payload)
    assert info["codec"] == "jpeg"
    assert info["keyframes"] == list(range(1, k + 1))  # all-intra
    # box-walked offset, not a byte search — JPEG entropy data inside
    # mdat can itself contain b"mdat" and shift an rfind-based base
    mdat = payload[mp4_mdat_offset(payload):]
    samples = extract_mp4_samples(payload)
    assert len(samples) == k
    for no, off, nb, kf, _bs in samples:
        chunk = mdat[off : off + nb]
        assert kf and chunk == frames[no - 1]
        assert decode_jpeg(chunk)["pixels"] == decode_jpeg(frames[no - 1])["pixels"]


def test_mp4_samples_size_mismatch_raises():
    """build_mp4 refuses sample payloads that disagree with the stsz
    vector — a silent mismatch would corrupt every downstream slice."""
    import pytest

    from seamdb_spark.operators.multimodal import build_mp4

    with pytest.raises(ValueError):
        build_mp4(1000, 80, [3, 4], [1, 2], samples=[b"abc", b"de"])


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    n_colors=st.integers(min_value=1, max_value=256),
    interlace=st.integers(min_value=0, max_value=1),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_palette_png_roundtrip_any_size(w, h, n_colors, interlace, seed):
    """Palette PNG (color type 3) round-trips bit-exactly for any
    dimensions, any palette size 1..256, and both interlace methods —
    including the odd-size Adam7 passes (empty and partial) and the
    bpp=1 filter unit (a bpp=3 filter on index rows would corrupt
    Sub/Average/Paeth scanlines)."""
    import random

    from seamdb_spark.operators.multimodal import (
        build_png_palette,
        decode_png,
    )

    rng = random.Random(seed)
    colors = [
        bytes(rng.randrange(0, 256) for _ in range(3)) for _ in range(n_colors)
    ]
    rgb = b"".join(rng.choice(colors) for _ in range(w * h))
    for inter in (0, interlace):
        d = decode_png(build_png_palette(w, h, rgb, inter))
        assert d["pixels"] == rgb
        assert d["color_type"] == 3
        assert d["interlaced"] == (inter == 1)
        # PLTE holds the image's distinct colors (<= n_colors: the
        # random choice may not use them all)
        assert d["palette_size"] == len({rgb[3*i:3*i+3] for i in range(w*h)})


def test_palette_png_boundaries_are_explicit():
    """>256 distinct colors refuses to encode; a palette index past
    PLTE and a missing PLTE raise (never wrong pixels)."""
    import pytest

    from seamdb_spark.operators.multimodal import (
        _PNG_SIG,
        build_png_palette,
        decode_png,
    )

    # 257 distinct colors on a 17x16 image
    rgb = b"".join(
        bytes((i % 256, i // 256, 7)) for i in range(17 * 16)
    )
    with pytest.raises(ValueError, match="256"):
        build_png_palette(17, 16, rgb)
    # missing PLTE: rebuild a type-3 payload without the PLTE chunk
    ok = build_png_palette(2, 2, bytes([5, 6, 7] * 4))
    chunks = []
    pos = 8
    import struct as _struct

    while pos < len(ok):
        (clen,) = _struct.unpack(">I", ok[pos:pos + 4])
        ctype = ok[pos + 4:pos + 8]
        chunks.append((ctype, ok[pos:pos + 12 + clen]))
        pos += 12 + clen
    stripped = _PNG_SIG + b"".join(
        raw for ctype, raw in chunks if ctype != b"PLTE"
    )
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(stripped)


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    interlace=st.integers(min_value=0, max_value=1),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=30, deadline=None)
def test_grayscale_png_roundtrip_any_size(w, h, interlace, seed):
    """Grayscale PNG (color type 0) round-trips for any dimensions and
    both interlace methods, expanding each sample to (g, g, g) RGB."""
    import random

    from seamdb_spark.operators.multimodal import build_png_gray, decode_png

    rng = random.Random(seed)
    gray = bytes(rng.randrange(0, 256) for _ in range(w * h))
    d = decode_png(build_png_gray(w, h, gray, interlace))
    assert d["color_type"] == 0 and d["palette_size"] == 0
    assert d["pixels"] == bytes(b for g in gray for b in (g, g, g))


@given(
    n=st.integers(min_value=2, max_value=512),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=30, deadline=None)
def test_resample_identities_on_arbitrary_signals(n, seed):
    """The m42 resampler's structural identities hold for ANY int16
    signal, not just the closed-form ramp: WAV round-trips are
    bit-exact at both rates, decimation keeps exactly the even
    samples, and the upsampled signal interleaves the decimated
    samples with their integer midpoints (floor semantics)."""
    import random

    from seamdb_spark.operators.multimodal import build_wav, wav_samples

    rng = random.Random(seed)
    src = [rng.randrange(-32768, 32768) for _ in range(n)]
    rt = wav_samples(build_wav(src, 16000))
    assert list(rt) == src  # lossless PCM round-trip
    down = list(rt)[::2]
    rt_down = wav_samples(build_wav(down, 8000))
    assert list(rt_down) == down
    mids = [(down[i] + down[i + 1]) // 2 for i in range(len(down) - 1)]
    up = [None] * (2 * len(down) - 1)
    up[0::2] = down
    up[1::2] = mids
    rt_up = list(wav_samples(build_wav(up, 16000)))
    assert rt_up[0::2] == down
    assert rt_up[1::2] == mids


def test_mdat_offset_immune_to_mdat_bytes_inside_samples():
    """Regression pin for the round-9 advisor finding: entropy-coded
    (or arbitrary binary) sample data inside mdat can contain the
    byte sequence b"mdat"; an rfind-based slice base then lands
    INSIDE a sample and corrupts every frame slice. The box-walked
    mp4_mdat_offset must return the true body offset, and the sliced
    samples must round-trip bit-exact, even when every frame embeds
    the adversarial fourcc."""
    from seamdb_spark.operators.multimodal import (
        build_mp4,
        extract_mp4_samples,
        mp4_mdat_offset,
    )

    # every sample deliberately contains b"mdat" (several times)
    frames = [
        b"xx" + b"mdat" + bytes([i]) * 7 + b"mdat" + b"tail" for i in range(4)
    ]
    payload = build_mp4(
        1000, 160, [len(f) for f in frames], [1, 2, 3, 4], samples=frames
    )
    off = mp4_mdat_offset(payload)
    # the old byte-search base would differ: rfind finds the LAST
    # occurrence, which is inside frame 4's payload
    assert payload.rfind(b"mdat") + 4 != off
    mdat = payload[off:]
    for no, s_off, nb, _kf, _bs in extract_mp4_samples(payload):
        assert mdat[s_off : s_off + nb] == frames[no - 1]


def test_mp4_mdat_offset_largesize_and_size_zero():
    """ISO-BMFF size encodings beyond the 32-bit common case (ADVICE
    r10): size==1 means an 8-byte largesize follows the fourcc (the
    normal encoding for >4GiB mdat — what a real video corpus hits),
    and size==0 means the box runs to end of payload (legal for the
    final box). mp4_mdat_offset must resolve the same mdat body for
    all three encodings, extract_mp4_samples and decode_mp4_probe must
    read the same samples and probe from each, and a truncated
    largesize header must be rejected."""
    import struct

    import pytest

    from seamdb_spark.operators.multimodal import (
        build_mp4,
        decode_mp4_probe,
        extract_mp4_samples,
        mp4_mdat_offset,
    )

    payload = build_mp4(1000, 120, [10, 20], [1])
    base = mp4_mdat_offset(payload)
    body = payload[base:]
    samples = extract_mp4_samples(payload)
    probe = decode_mp4_probe(payload)

    # rewrite the (final) mdat box into largesize form
    head = payload[: base - 8]
    largesize = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(body))
    ls_payload = head + largesize + body
    off = mp4_mdat_offset(ls_payload)
    assert ls_payload[off:] == body

    # size==0: mdat extends to end of payload
    z_payload = head + struct.pack(">I", 0) + b"mdat" + body
    off0 = mp4_mdat_offset(z_payload)
    assert z_payload[off0:] == body

    for other in (ls_payload, z_payload):
        assert extract_mp4_samples(other) == samples
        assert decode_mp4_probe(other) == probe

    # largesize header cut off mid-field
    with pytest.raises(ValueError):
        mp4_mdat_offset(head + struct.pack(">I", 1) + b"mdat" + b"\x00\x00")
