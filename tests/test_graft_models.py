"""Unit tests for the graft model layer: codecs, phash, langid, perplexity,
scrub — determinism and the BASELINE.json per-row invariants (PSNR ≥ 40 dB
for lossy formats, exact scrub equality between the Spark plan and the
pure-Python twin)."""

import numpy as np
import pandas as pd
import pytest

from dataqualitycontroltool_spark.graft import codecs, scrub, synth
from dataqualitycontroltool_spark.graft.langid import get_model
from dataqualitycontroltool_spark.graft.perplexity import get_lm


@pytest.fixture(scope="module")
def img():
    return synth._base_image(np.random.default_rng(7), 64, 40)


def test_png_roundtrip_lossless(img):
    assert np.array_equal(codecs.png_decode(codecs.png_encode(img)), img)


@pytest.mark.parametrize("fmt", ["jpeg", "webp"])
def test_lossy_roundtrip_psnr(img, fmt):
    dec = codecs.decode(codecs.encode(img, fmt), fmt)
    assert dec.shape == img.shape
    assert codecs.psnr(img, dec) >= 40.0  # input_hint invariant


def test_encode_deterministic(img):
    for fmt in codecs.ALL_FORMATS:
        assert codecs.encode(img, fmt) == codecs.encode(img, fmt)


def test_phash_properties(img):
    ph = codecs.phash64(img)
    assert isinstance(ph, int)
    assert np.iinfo(np.int64).min <= ph <= np.iinfo(np.int64).max
    # near-stable under the synth near-dup perturbation (±2/channel): only
    # blocks whose mean sits at the global mean may flip
    rng = np.random.default_rng(3)
    pert = (img.astype(int) + rng.integers(-2, 3, img.shape)).clip(0, 255).astype(np.uint8)
    hamming = bin((codecs.phash64(pert) ^ ph) & (2**64 - 1)).count("1")
    assert hamming <= 4, hamming
    # different structure → different hash
    other = synth._base_image(np.random.default_rng(99), 64, 40)
    assert codecs.phash64(other) != ph


def test_langid_classifies_all_languages():
    m = get_model()
    rng = np.random.default_rng(5)
    for lang in synth.WORDS:
        for _ in range(20):
            cap = synth._caption(rng, lang, 10)
            assert m.predict(cap) == lang, (lang, cap)


def test_langid_gibberish_und():
    m = get_model()
    rng = np.random.default_rng(6)
    assert m.predict(synth._gibberish(rng, 8)) == "und"
    assert m.predict(None) == "und"
    assert m.predict("") == "und"


def test_perplexity_separates_gibberish():
    lm = get_lm()
    rng = np.random.default_rng(8)
    caps = [synth._caption(rng, "en", 10) for _ in range(20)]
    gibs = [synth._gibberish(rng, 10) for _ in range(20)]
    assert max(lm.perplexity(c) for c in caps) < 80
    assert min(lm.perplexity(g) for g in gibs) > 80
    assert lm.perplexity(None) == float("inf")


def test_scrub_rules():
    cases = {
        "mail john.doe@example.com now": "mail [EMAIL] now",
        "see https://example.com/x?q=1 ok": "see [URL] ok",
        "see www.spam-site.net/abc ok": "see [URL] ok",
        "ssn 123-45-6789 ok": "ssn [ID] ok",
        "ip 192.168.1.77 ok": "ip [IP] ok",
        "call +1-555-0142 ok": "call [PHONE] ok",
        "call (555) 012-3456 ok": "call [PHONE] ok",
        "call 555-014-9999 ok": "call [PHONE] ok",
        "what the Hell damn CRAP": "what the **** **** ****",
        "clean caption stays put": "clean caption stays put",
    }
    for src, want in cases.items():
        assert scrub.scrub_text(src) == want, src


def test_scrub_spark_matches_python(spark):
    rng = np.random.default_rng(11)
    pdf = synth.generate_pdf(3, 300, seed=42)
    caps = pdf["caption"].dropna().tolist() + [
        "x john.doe@example.com y", "damn 123-45-6789 https://a.bc/d www.e.fg/h",
    ]
    del rng
    df = spark.createDataFrame(pd.DataFrame({"caption": caps}))
    got = [r[0] for r in df.select(scrub.scrub_column(df.caption)).collect()]
    want = [scrub.scrub_text(c) for c in caps]
    assert got == want


def test_scrub_duckdb_matches_python():
    import duckdb

    caps = [
        "mail a.b@c.de then call (555) 012-3456",
        "damn URL https://x.y/z and ip 10.0.0.254 and 987-65-4321",
        "clean text",
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ",".join(f"('{c}')" for c in caps) + ") v(caption)")
    got = [r[0] for r in con.execute(
        f"SELECT {scrub.scrub_sql('caption')} FROM t").fetchall()]
    assert got == [scrub.scrub_text(c) for c in caps]


def test_decode_check_real_jpeg_bitstream(spark):
    # the PSNR path against a JPEG bitstream from an independent encoder
    # (runs wherever PIL is installed).  Smooth gradient so quality-95
    # JPEG stays well above the 40 dB bar.
    import pandas as pd
    from io import BytesIO

    Image = pytest.importorskip("PIL.Image")

    from dataqualitycontroltool_spark.graft import decode as dec

    y, x = np.mgrid[0:64, 0:64]
    img = np.stack([(x * 2) % 256, (y * 2) % 256, ((x + y)) % 256],
                   axis=-1).astype(np.uint8)
    buf = BytesIO()
    Image.fromarray(img).save(buf, format="JPEG", quality=95)
    data = buf.getvalue()
    assert data[:2] == b"\xff\xd8"  # JPEG SOI

    ok, w, h, psnr_db = dec.check_bytes(data, "jpeg")
    assert ok and (w, h) == (64, 64)
    assert psnr_db >= 40.0
    # and through the Spark UDF surface
    df = spark.createDataFrame(pd.DataFrame({"bytes": [data], "fmt": ["jpeg"]}))
    row = df.select(dec.decode_check("bytes", "fmt").alias("c")).collect()[0].c
    assert row.decode_ok and row.dec_w == 64


def test_real_lossy_bitstream_error_paths():
    # a corrupt JPEG must raise (T.81 decoder), and a lossy VP8 WebP, which
    # no codec here reads, must raise — never silent garbage; and
    # check_bytes must map both to decode_ok=False
    from dataqualitycontroltool_spark.graft import decode as dec

    fake_real_jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 32
    with pytest.raises(ValueError):
        codecs.decode(fake_real_jpeg, "jpeg")
    assert dec.check_bytes(fake_real_jpeg, "jpeg")[0] is False
    lossy_webp = b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 16
    with pytest.raises(ValueError, match="only lossless VP8L"):
        codecs.decode(lossy_webp, "webp")
    assert dec.check_bytes(lossy_webp, "webp")[0] is False
