"""Real VP8L (lossless WebP) codec: exact round-trips across image shapes
and encoder options, container/bitstream structure, prefix-code invariants
(Kraft completeness — strict decoders reject incomplete codes), failure
modes, and a PIL cross-decoder check (runs wherever PIL is installed)."""

import struct

import numpy as np
import pytest

from dataqualitycontroltool_spark.graft import vp8l


def _rng(seed=7):
    return np.random.default_rng(seed)


def _images():
    rng = _rng()
    noise = rng.integers(0, 256, (37, 53, 3), dtype=np.uint8)
    flat = np.full((16, 16, 3), 129, np.uint8)
    grad = np.zeros((24, 31, 3), np.uint8)
    grad[:, :, 0] = np.arange(31, dtype=np.uint8)[None, :] * 8
    grad[:, :, 1] = np.arange(24, dtype=np.uint8)[:, None] * 10
    grad[:, :, 2] = 200
    stripes = np.zeros((20, 40, 3), np.uint8)
    stripes[::2] = (255, 0, 64)
    few_colors = rng.choice(
        np.array([[0, 0, 0], [255, 255, 255], [10, 200, 30]], np.uint8),
        size=(18, 22),
        axis=0,
    )
    return {
        "noise": noise,
        "flat": flat,
        "grad": grad,
        "stripes": stripes,
        "few_colors": few_colors,
        "one_px": np.array([[[1, 2, 3]]], np.uint8),
        "one_row": rng.integers(0, 256, (1, 9, 3), dtype=np.uint8),
        "one_col": rng.integers(0, 256, (11, 1, 3), dtype=np.uint8),
    }


@pytest.mark.parametrize("name,img", list(_images().items()))
@pytest.mark.parametrize("sg", [True, False])
@pytest.mark.parametrize("cb", [0, 4])
def test_roundtrip_exact(name, img, sg, cb):
    data = vp8l.encode(img, subtract_green=sg, cache_bits=cb)
    out = vp8l.decode(data)
    assert out.shape == img.shape
    assert np.array_equal(out, img), f"{name} sg={sg} cb={cb}"


def test_container_structure():
    img = _images()["grad"]
    data = vp8l.encode(img)
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    assert data[12:16] == b"VP8L"
    (riff_size,) = struct.unpack("<I", data[4:8])
    assert riff_size == len(data) - 8
    (chunk_size,) = struct.unpack("<I", data[16:20])
    assert chunk_size <= len(data) - 20 <= chunk_size + 1  # odd-size pad
    assert data[20] == 0x2F  # VP8L signature byte
    # 14-bit width-1 / height-1 little-endian bit-packed after the signature
    h, w, _ = img.shape
    bits = int.from_bytes(data[21:25], "little")
    assert (bits & 0x3FFF) == w - 1
    assert ((bits >> 14) & 0x3FFF) == h - 1
    assert vp8l.is_vp8l(data)


def test_compression_ratio_on_runs():
    # run-heavy input must actually engage LZ77: far smaller than raw
    flat = np.full((64, 64, 3), 77, np.uint8)
    data = vp8l.encode(flat)
    assert len(data) < 64 * 64 * 3 // 20
    # and a cache helps a few-color image vs cache-off
    img = _images()["few_colors"]
    assert len(vp8l.encode(img, cache_bits=6)) <= len(vp8l.encode(img))


def test_truncation_and_garbage_fail_loudly():
    data = vp8l.encode(_images()["noise"])
    with pytest.raises(ValueError):
        vp8l.decode(data[: len(data) // 2])
    with pytest.raises(ValueError):
        vp8l.decode(b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 16)
    with pytest.raises(ValueError):
        vp8l.decode(b"not a webp at all, definitely")


def test_meta_prefix_groups_decode():
    """Meta prefix codes (r4): two prefix-code groups selected by a
    1-pixel-per-4x4-block sub-image.  Hand-built because the encoder emits
    a single group; libwebp emits multi-group streams routinely, so the
    decoder must select the right five codes per pixel position."""
    from dataqualitycontroltool_spark.graft.vp8l import (
        _BitWriter,
        _encode_image_body,
        _write_prefix_code,
        NUM_DISTANCE,
        NUM_LITERAL,
    )

    w, h, mbits = 8, 2, 2  # meta grid 2x1: columns 0-3 group 0, 4-7 group 1
    X = (255, 1, 2, 3)  # (a, r, g, b) for the left half
    Y = (255, 9, 8, 7)  # right half
    bw = _BitWriter()
    bw.write_bits(w - 1, 14)
    bw.write_bits(h - 1, 14)
    bw.write_bits(0, 1)
    bw.write_bits(0, 3)
    bw.write_bits(0, 1)  # no transforms
    bw.write_bits(0, 1)  # no color cache
    bw.write_bits(1, 1)  # meta prefix codes present
    bw.write_bits(mbits - 2, 3)
    # group index = (red << 8) | green of the meta pixel
    meta = np.array([0xFF000000, 0xFF000000 | (1 << 8)], np.uint32)
    _encode_image_body(bw, meta, cache_bits=0, level0=False)
    group_codes = []
    for (aa, rr, gg, bb) in (X, Y):
        g_codes = _write_prefix_code(bw, {gg: 8}, NUM_LITERAL + 24)
        r_codes = _write_prefix_code(bw, {rr: 8}, NUM_LITERAL)
        b_codes = _write_prefix_code(bw, {bb: 8}, NUM_LITERAL)
        a_codes = _write_prefix_code(bw, {aa: 8}, NUM_LITERAL)
        _write_prefix_code(bw, {1: 1}, NUM_DISTANCE)  # unused
        group_codes.append((g_codes, r_codes, b_codes, a_codes))
    for _ in range(h):
        for x in range(w):
            grp = 0 if x < 4 else 1
            aa, rr, gg, bb = (X, Y)[grp]
            g_codes, r_codes, b_codes, a_codes = group_codes[grp]
            bw.write_code(*g_codes[gg])
            bw.write_code(*r_codes[rr])
            bw.write_code(*b_codes[bb])
            bw.write_code(*a_codes[aa])
    payload = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    out = vp8l.decode(b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk)
    assert out.shape == (h, w, 3)
    for x in range(w):
        expect = (1, 2, 3) if x < 4 else (9, 8, 7)
        assert tuple(out[0, x]) == expect, (x, tuple(out[0, x]))
        assert tuple(out[1, x]) == expect


def test_package_merge_kraft_complete():
    rng = _rng(3)
    for trial in range(25):
        n = int(rng.integers(2, 300))
        freqs = {s: int(rng.integers(1, 10_000)) for s in range(n)}
        for limit in (7, 15):
            if (1 << limit) < n:
                continue
            lengths = vp8l._package_merge(freqs, limit)
            assert set(lengths) == set(freqs)
            assert max(lengths.values()) <= limit
            kraft = sum(2 ** (limit - l) for l in lengths.values())
            assert kraft == (1 << limit), "prefix code must be complete"


def test_canonical_codes_are_prefix_free():
    lengths = vp8l._package_merge({i: i + 1 for i in range(40)}, 15)
    codes = vp8l._canonical_codes(lengths)
    seen = set()
    for sym, (code, ln) in codes.items():
        bits = format(code, f"0{ln}b")
        for other in seen:
            assert not bits.startswith(other) and not other.startswith(bits)
        seen.add(bits)


def test_lz77_prefix_roundtrip():
    from dataqualitycontroltool_spark.graft.vp8l import (
        _BitReader,
        _BitWriter,
        _lz77_decode,
        _lz77_encode,
    )

    for v in [1, 2, 3, 4, 5, 7, 8, 9, 100, 1024, 4096]:
        sym, eb, ev = _lz77_encode(v)
        assert sym < 24
        bw = _BitWriter()
        bw.write_bits(ev, eb)
        br = _BitReader(bw.bytes() or b"\x00")
        assert _lz77_decode(br, sym) == v


def test_backward_ref_out_of_bounds_rejected():
    # hand-build a 1x2 image whose token stream emits a 3-pixel run:
    # the copy overruns the pixel budget and must fail, not wrap
    from dataqualitycontroltool_spark.graft.vp8l import (
        _BitWriter,
        _lz77_encode,
        _write_prefix_code,
    )

    bw = _BitWriter()
    bw.write_bits(1, 14)  # w - 1 -> w = 2
    bw.write_bits(0, 14)  # h - 1 -> h = 1
    bw.write_bits(0, 1)
    bw.write_bits(0, 3)
    bw.write_bits(0, 1)  # no transforms
    bw.write_bits(0, 1)  # no cache
    bw.write_bits(0, 1)  # no meta codes
    run_sym = 256 + _lz77_encode(3)[0]
    g = _write_prefix_code(bw, {0: 1, run_sym: 1}, 280)
    r = _write_prefix_code(bw, {0: 1}, 256)
    b = _write_prefix_code(bw, {0: 1}, 256)
    a = _write_prefix_code(bw, {255: 1}, 256)
    d = _write_prefix_code(bw, {_lz77_encode(2)[0]: 1}, 40)
    bw.write_code(*g[0])  # literal pixel (0, 0, 0, a=255)
    bw.write_code(*r[0])
    bw.write_code(*b[0])
    bw.write_code(*a[255])
    bw.write_code(*g[run_sym])  # 3-pixel run into a 2-pixel image
    bw.write_code(*d[_lz77_encode(2)[0]])
    payload = b"\x2f" + bw.bytes() + b"\x00" * 4
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    blob = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    with pytest.raises(ValueError, match="out of bounds"):
        vp8l.decode(blob)


def test_pil_cross_decoder():  # pragma: no cover — runs wherever PIL is installed
    from io import BytesIO

    Image = pytest.importorskip("PIL.Image")

    for name, img in _images().items():
        for kw in ({"cache_bits": 0}, {"cache_bits": 6},
                   {"predictor_bits": 4}, {"predictor_bits": 2, "cache_bits": 6}):
            data = vp8l.encode(img, **kw)
            got = np.asarray(Image.open(BytesIO(data)).convert("RGB"))
            assert np.array_equal(got, img), f"PIL disagrees on {name} {kw}"
        buf = BytesIO()
        Image.fromarray(img).save(buf, format="WEBP", lossless=True)
        assert np.array_equal(vp8l.decode(buf.getvalue()), img)


# --- PREDICTOR transform (r4 extension) ------------------------------------

@pytest.mark.parametrize("name,img", list(_images().items()))
@pytest.mark.parametrize("pb", [2, 4])
def test_predictor_roundtrip_exact(name, img, pb):
    data = vp8l.encode(img, predictor_bits=pb)
    assert np.array_equal(vp8l.decode(data), img), f"{name} pb={pb}"


def test_predictor_compresses_smooth_images():
    grad = np.zeros((64, 64, 3), np.uint8)
    grad[:, :, 0] = np.arange(64, dtype=np.uint8)[None, :] * 4
    grad[:, :, 1] = np.arange(64, dtype=np.uint8)[:, None] * 3
    grad[:, :, 2] = (np.arange(64)[None, :] + np.arange(64)[:, None]).astype(
        np.uint8
    )
    plain = vp8l.encode(grad)
    pred = vp8l.encode(grad, predictor_bits=4)
    assert np.array_equal(vp8l.decode(pred), grad)
    # gradients are exactly what spatial prediction kills: a large margin,
    # not a rounding-level one
    assert len(pred) < len(plain) // 2, (len(pred), len(plain))


def test_predictor_all_modes_decode():
    """Force every predictor mode through the decoder by crafting a mode
    grid directly: encode residuals=original with mode grid all-M only
    works via the public API, so instead exercise selection pressure —
    an image built from shifted copies makes distinct blocks prefer
    distinct modes, and the full set must round-trip regardless."""
    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    img = base.copy()
    img[1:, :, :] = base[:-1, :, :]     # vertically correlated -> T-ish
    img[:, 1:, 0] = img[:, :-1, 0]      # horizontally correlated red -> L-ish
    data = vp8l.encode(img, predictor_bits=2)
    assert np.array_equal(vp8l.decode(data), img)
    # the mode grid genuinely varies (not a single degenerate mode)
    from dataqualitycontroltool_spark.graft.vp8l import _forward_predictor

    h, w, _ = img.shape
    a = np.full((h, w), 255, np.int32)
    chans = (a, img[:, :, 0].astype(np.int32),
             ((img[:, :, 1].astype(np.int32))),
             img[:, :, 2].astype(np.int32))
    modes_argb, _ = _forward_predictor(chans, w, h, 2)
    modes = {(int(px) >> 8) & 0xFF for px in modes_argb}
    assert len(modes) >= 3


def test_predictor_bits_validation():
    img = np.zeros((4, 4, 3), np.uint8)
    for bad in (1, 10, -2):
        with pytest.raises(ValueError, match="predictor_bits"):
            vp8l.encode(img, predictor_bits=bad)
    with pytest.raises(ValueError, match="cache_bits"):
        vp8l.encode(img, cache_bits=12)


def test_duplicate_transform_rejected():
    from dataqualitycontroltool_spark.graft.vp8l import _BitWriter

    bw = _BitWriter()
    bw.write_bits(3, 14)
    bw.write_bits(3, 14)
    bw.write_bits(0, 1)
    bw.write_bits(0, 3)
    for _ in range(2):  # SUBTRACT_GREEN twice
        bw.write_bits(1, 1)
        bw.write_bits(2, 2)
    payload = b"\x2f" + bw.bytes() + b"\x00" * 8
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    blob = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    with pytest.raises(ValueError, match="duplicate"):
        vp8l.decode(blob)


def test_invalid_predictor_mode_rejected():
    # an image encoded with predictor_bits, then the sub-image green value
    # patched >13, must fail loudly — simulate by decoding a crafted grid
    from dataqualitycontroltool_spark.graft.vp8l import _inverse_predictor

    res = np.zeros(16, np.uint32)
    bad_modes = np.array([(0xFF << 24) | (14 << 8)], np.uint32)
    with pytest.raises(ValueError, match="predictor mode"):
        _inverse_predictor(res, 4, 4, bad_modes, 2)


# --- COLOR_INDEXING transform (r4 extension) --------------------------------

def _palette_images():
    rng = _rng(3)
    pal3 = np.array([[10, 200, 30], [0, 0, 0], [255, 128, 5]], np.uint8)
    pal16 = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    pal17 = rng.integers(0, 256, (17, 3)).astype(np.uint8)
    pal256 = rng.integers(0, 256, (256, 3)).astype(np.uint8)
    return {
        # every bundling width: <=2 colors -> 8 px/byte, <=4 -> 4, <=16 -> 2,
        # >16 -> plain 8-bit indices; odd widths exercise the padded tail
        "bw": (rng.integers(0, 2, (37, 53)) * 255).astype(np.uint8)[
            :, :, None
        ].repeat(3, 2),
        "c3_odd": pal3[rng.integers(0, 3, (17, 31))],
        "c16": pal16[rng.integers(0, 16, (64, 64))],
        "c17": pal17[rng.integers(0, 17, (33, 41))],
        "c256": pal256[rng.integers(0, 256, (50, 50))],
        "one_px": np.full((1, 1, 3), 77, np.uint8),
        "flat": np.full((16, 16, 3), 123, np.uint8),
        "w1": pal3[rng.integers(0, 3, (29, 1))],
    }


@pytest.mark.parametrize("name,img", list(_palette_images().items()))
@pytest.mark.parametrize("cb", [0, 4])
def test_palette_roundtrip_exact(name, img, cb):
    data = vp8l.encode(img, palette=True, cache_bits=cb)
    assert data[12:16] == b"VP8L"
    out = vp8l.decode(data)
    assert out.shape == img.shape
    assert np.array_equal(out, img), f"{name} cb={cb}"


def test_palette_compresses_few_color_images():
    imgs = _palette_images()
    for name in ("c3_odd", "c16", "c17", "c256"):
        img = imgs[name]
        pal = vp8l.encode(img, palette=True)
        plain = vp8l.encode(img)
        assert len(pal) < len(plain), (name, len(pal), len(plain))
    # bundled indices beat plain coding by a wide margin on 16 colors
    assert len(vp8l.encode(imgs["c16"], palette=True)) < len(
        vp8l.encode(imgs["c16"])
    ) // 2


def test_palette_rejects_true_color_and_combos():
    rng = _rng(5)
    truecolor = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="256 distinct colors"):
        vp8l.encode(truecolor, palette=True)
    with pytest.raises(ValueError, match="predictor"):
        vp8l.encode(_palette_images()["bw"], palette=True, predictor_bits=3)


def test_palette_out_of_range_index_decodes_transparent_black():
    """Spec: an index >= color_table_size decodes to 0x00000000 (transparent
    black).  Our encoder never emits one, so build the stream with the
    module's own writer: declare a 3-color table but bundle index values up
    to 3 (both sizes share the 2-bit bundling class, so only the semantics
    differ, not the layout)."""
    from dataqualitycontroltool_spark.graft.vp8l import (
        _BitWriter,
        _TRANSFORM_COLOR_INDEXING,
        _encode_image_body,
        _pack_argb,
    )

    w = h = 4
    bw = _BitWriter()
    bw.write_bits(w - 1, 14)
    bw.write_bits(h - 1, 14)
    bw.write_bits(0, 1)
    bw.write_bits(0, 3)
    bw.write_bits(1, 1)
    bw.write_bits(_TRANSFORM_COLOR_INDEXING, 2)
    bw.write_bits(3 - 1, 8)  # three palette entries: deltas of 10,20,30 gray
    deltas = np.array([0xFF000000 | 0x0A0A0A, 0x0A0A0A, 0x0A0A0A], np.uint32)
    _encode_image_body(bw, deltas, cache_bits=0, level0=False)
    bw.write_bits(0, 1)  # no more transforms
    # 16 pixels of 2-bit indices 0..3 bundled 4-per-byte -> 4 green bytes
    idx = np.array([[0, 1, 2, 3]] * 4, np.uint32)
    greens = (idx << (np.arange(4, dtype=np.uint32) * 2)).sum(axis=1)
    packed = (np.uint32(0xFF000000) | (greens.astype(np.uint32) << 8))
    _encode_image_body(bw, packed, cache_bits=0, level0=True)
    payload = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    data = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    out = vp8l.decode(data)
    # columns 0..2 hit the table (10/20/30 gray); column 3 is out of range
    assert tuple(out[0, 0]) == (10, 10, 10)
    assert tuple(out[0, 1]) == (20, 20, 20)
    assert tuple(out[0, 2]) == (30, 30, 30)
    assert tuple(out[0, 3]) == (0, 0, 0)


# --- COLOR (cross-color) transform (r4 extension) ----------------------------

def _correlated_image(seed=13):
    rng = np.random.default_rng(seed)
    g = rng.integers(10, 110, (64, 64)).astype(np.int32)
    img = np.zeros((64, 64, 3), np.uint8)
    img[:, :, 1] = g
    img[:, :, 0] = np.clip(g // 2 + 20 + rng.integers(-3, 4, g.shape), 0, 255)
    img[:, :, 2] = np.clip(g // 4 + 10 + rng.integers(-3, 4, g.shape), 0, 255)
    return img


@pytest.mark.parametrize("name,img", list(_images().items()))
@pytest.mark.parametrize(
    "kw",
    [
        {"color_bits": 3},
        {"color_bits": 3, "subtract_green": False},
        {"color_bits": 2, "cache_bits": 5},
        {"color_bits": 4, "predictor_bits": 4},
    ],
)
def test_color_transform_roundtrip_exact(name, img, kw):
    data = vp8l.encode(img, **kw)
    assert np.array_equal(vp8l.decode(data), img), f"{name} {kw}"


def test_color_transform_decorrelates_fractional_slopes():
    """Channels co-varying at slope 0.5/0.25 are exactly what the fixed
    unit slope of SUBTRACT_GREEN cannot remove: the cross-color fit must
    win by a wide margin there (27% measured at landing)."""
    img = _correlated_image()
    plain = vp8l.encode(img, subtract_green=False)
    col = vp8l.encode(img, subtract_green=False, color_bits=4)
    assert np.array_equal(vp8l.decode(col), img)
    assert len(col) < len(plain) * 0.85, (len(col), len(plain))


def test_color_transform_rejects_bad_bits():
    img = _correlated_image()
    with pytest.raises(ValueError, match="color_bits"):
        vp8l.encode(img, color_bits=1)
    with pytest.raises(ValueError, match="palette"):
        vp8l.encode(np.zeros((4, 4, 3), np.uint8), palette=True, color_bits=3)


def test_color_transform_delta_semantics():
    """Pin the spec's (int8)t * (int8)c >> 5 delta on hand values via a
    1-block stream built with the module's writer: params are stored in
    (blue=g2r, green=g2b, red=r2b) channels and blue's red multiplier
    applies to the RESTORED red."""
    from dataqualitycontroltool_spark.graft.vp8l import (
        _BitWriter,
        _TRANSFORM_COLOR,
        _encode_image_body,
    )

    g2r, g2b, r2b = 64, -32 & 0xFF, 16  # t/32 slopes: 2, -1, 0.5
    w = h = 2
    # stored pixel channels (after forward transform) chosen freely; the
    # inverse must add delta(g2r, g) to red, then delta(g2b, g) +
    # delta(r2b, restored_red) to blue
    stored = np.array(
        [0xFF000000 | (10 << 16) | (20 << 8) | 30] * 4, np.uint32
    )
    bw = _BitWriter()
    bw.write_bits(w - 1, 14)
    bw.write_bits(h - 1, 14)
    bw.write_bits(0, 1)
    bw.write_bits(0, 3)
    bw.write_bits(1, 1)
    bw.write_bits(_TRANSFORM_COLOR, 2)
    bw.write_bits(9 - 2, 3)  # one 512-px block covers the whole image
    _encode_image_body(
        bw, np.array([0xFF000000 | (r2b << 16) | (g2b << 8) | g2r], np.uint32),
        cache_bits=0, level0=False,
    )
    bw.write_bits(0, 1)
    _encode_image_body(bw, stored, cache_bits=0, level0=True)
    payload = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    out = vp8l.decode(b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk)

    # delta(g2r=64, g=20) = (64*20)>>5 = 40 -> red = 10+40 = 50
    # delta(g2b=-32, g=20) = (-32*20)>>5 = -20
    # delta(r2b=16, red=50) = (16*50)>>5 = 25 -> blue = 30-20+25 = 35
    assert tuple(out[0, 0]) == (50, 20, 35)


def test_meta_prefix_group_claim_bounded():
    """A crafted meta sub-image claiming 65536 groups against a near-empty
    stream must raise (the eager 5-LUTs-per-group build would otherwise be
    a memory-amplification attack), not OOM."""
    from dataqualitycontroltool_spark.graft.vp8l import (
        _BitWriter,
        _encode_image_body,
    )

    bw = _BitWriter()
    bw.write_bits(7, 14)
    bw.write_bits(7, 14)
    bw.write_bits(0, 1)
    bw.write_bits(0, 3)
    bw.write_bits(0, 1)  # no transforms
    bw.write_bits(0, 1)  # no cache
    bw.write_bits(1, 1)  # meta prefix codes
    bw.write_bits(9 - 2, 3)  # 512-px blocks -> 1x1 meta image
    # meta pixel red=0xFF green=0xFF -> claims 65536 groups
    _encode_image_body(
        bw, np.array([0xFFFFFF00], np.uint32), cache_bits=0, level0=False
    )
    payload = b"\x2f" + bw.bytes() + b"\x00" * 16
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    blob = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    with pytest.raises(ValueError, match="group count|truncated|invalid"):
        vp8l.decode(blob)


def test_fuzz_mutated_streams_decode_or_valueerror():
    """Codec contract under corruption: any bit-flip / truncation / byte
    splice of a valid stream must either still decode or raise ValueError
    through the codecs layer — never an arbitrary exception, hang, or
    silent garbage crash (the pipeline feeds raw corpus bytes here).
    1600-mutation sweep ran clean at landing; CI keeps a 240-case slice."""
    from dataqualitycontroltool_spark.graft import codecs

    rng = _rng(21)
    img = rng.integers(0, 256, (24, 31, 3), dtype=np.uint8)
    pal = np.array([[0, 0, 0], [255, 255, 255], [10, 200, 30]], np.uint8)[
        rng.integers(0, 3, (24, 31))
    ]
    streams = [
        vp8l.encode(img, cache_bits=6),
        vp8l.encode(img, predictor_bits=3),
        vp8l.encode(img, subtract_green=False, color_bits=3),
        vp8l.encode(pal, palette=True),
    ]
    for base in streams:
        for trial in range(60):
            data = bytearray(base)
            kind = trial % 3
            if kind == 0:
                data[int(rng.integers(12, len(data)))] ^= 1 << int(
                    rng.integers(0, 8)
                )
            elif kind == 1:
                data = data[: int(rng.integers(13, len(data)))]
            else:
                data[int(rng.integers(12, len(data)))] = int(rng.integers(0, 256))
            try:
                codecs.decode(bytes(data), "webp")
            except ValueError:
                pass


def test_up_run_backward_references():
    """LZ77 up-runs (distance = width, dist_code 1): repeated rows must
    compress by a wide margin (8.6x at landing) and round-trip exactly —
    including with a color cache (the encoder must mirror the decoder's
    per-copied-pixel cache inserts, which VARY within an up-run, unlike a
    dist-1 run's single value)."""
    rng = _rng(5)
    row = rng.integers(0, 256, (1, 40, 3), dtype=np.uint8)
    tiled = np.repeat(row, 24, axis=0)
    for kw in ({}, {"cache_bits": 6}, {"predictor_bits": 3},
               {"subtract_green": False, "color_bits": 3}):
        data = vp8l.encode(tiled, **kw)
        assert np.array_equal(vp8l.decode(data), tiled), kw
    # the tiled image must cost barely more than ONE row's coding
    assert len(vp8l.encode(tiled)) < 3 * len(vp8l.encode(row)), (
        len(vp8l.encode(tiled)), len(vp8l.encode(row)))


def test_general_lz77_backward_references():
    """General hash-chain LZ77 (any distance, not just 1/width): a tiled
    texture must cost little more than ONE tile's literals, round-trip
    exactly under every transform combination, and emit distance codes
    the decoder's 2-D neighborhood map + plain-distance paths both read."""
    rng = _rng(11)
    tile = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    img = np.tile(tile, (8, 8, 1))  # 64x64 of an 8x8 texture
    for kw in ({}, {"cache_bits": 6}, {"predictor_bits": 3},
               {"subtract_green": False, "color_bits": 3},
               {"predictor_bits": 0, "subtract_green": False}):
        data = vp8l.encode(img, **kw)
        assert np.array_equal(vp8l.decode(data), img), kw
    # 9132 B pre-matcher (literals), 340 B with general references —
    # within ~1.8x of the 192-byte unique-content entropy bound once the
    # five prefix-code tables and per-row copy tokens are counted
    size = len(vp8l.encode(img, predictor_bits=0, subtract_green=False))
    assert size < 600, size
    # a tile width sharing no factor with the image width (general
    # distances that do NOT land on the neighborhood map: d + 120 codes)
    tile57 = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    img57 = np.tile(tile57, (13, 10, 1))[:64, :64]
    data = vp8l.encode(img57, predictor_bits=0, subtract_green=False)
    assert np.array_equal(vp8l.decode(data), img57)
    assert len(data) < 600, len(data)
    # incompressible noise: the matcher must not inflate the stream
    noise = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    data = vp8l.encode(noise, predictor_bits=0, subtract_green=False)
    assert np.array_equal(vp8l.decode(data), noise)
    assert len(data) < 32 * 32 * 3 * 1.15, len(data)


def test_meta_prefix_groups_on_encode():
    """Encoder-side meta prefix groups (spec entropy-image mechanism): on
    an image whose halves draw literals from disjoint value ranges, two
    per-class prefix-code groups must beat the single shared histogram;
    where splitting does not pay, the stream must be byte-identical to the
    single-group encoding (cost-driven fallback, never inflates)."""
    rng = _rng(13)
    img = np.empty((64, 64, 3), np.uint8)
    img[:32] = rng.integers(0, 32, (32, 64, 3))
    img[32:] = rng.integers(224, 256, (32, 64, 3))
    b0 = vp8l.encode(img, meta_bits=0, predictor_bits=0, subtract_green=False)
    bm = vp8l.encode(img, meta_bits=4, predictor_bits=0, subtract_green=False)
    assert np.array_equal(vp8l.decode(bm), img)
    assert len(bm) < 0.9 * len(b0), (len(bm), len(b0))
    # composes with the default transform stack
    for kw in ({}, {"cache_bits": 6}, {"predictor_bits": 3}):
        data = vp8l.encode(img, meta_bits=4, **kw)
        assert np.array_equal(vp8l.decode(data), img), kw
    # no-gain inputs: exact fallback to the single-group stream
    noise = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    assert vp8l.encode(noise, meta_bits=4) == vp8l.encode(noise, meta_bits=0)
    flat = np.full((32, 32, 3), 9, np.uint8)
    assert vp8l.encode(flat, meta_bits=4) == vp8l.encode(flat, meta_bits=0)
    with pytest.raises(ValueError):
        vp8l.encode(flat, meta_bits=1)
