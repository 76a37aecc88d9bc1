"""Property-based tests (hypothesis) over the pure-Python cores — the
reference's test suite has no property testing (SURVEY §5); these pin the
invariants the Spark operators rely on."""

import numpy as np
from hypothesis import given, settings, strategies as st

from dataqualitycontroltool_spark import datefmt
from dataqualitycontroltool_spark.cde import edit_distance, edit_distance_f1
from dataqualitycontroltool_spark.graft import codecs
from dataqualitycontroltool_spark.graft.scrub import scrub_text
from dataqualitycontroltool_spark.operators import multimodal as mm

short_text = st.text(min_size=0, max_size=30)


@given(short_text, short_text)
def test_edit_distance_symmetric_and_bounded(a, b):
    d = edit_distance(a, b)
    assert d == edit_distance(b, a)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))
    assert (d == 0) == (a == b)


@given(short_text, short_text, short_text)
@settings(max_examples=50)
def test_edit_distance_triangle(a, b, c):
    assert edit_distance(a, c) <= edit_distance(a, b) + edit_distance(b, c)


@given(st.text(min_size=1, max_size=30), st.text(min_size=1, max_size=30))
def test_f1_range_and_identity(a, b):
    f = edit_distance_f1(a, b)
    assert f <= 1.0
    if a == b:
        assert f == 1.0


@given(
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=1000, max_value=48000),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25)
def test_wav_roundtrip(n, ch, rate, seed):
    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32767, (n, ch), dtype=np.int16)
    r2, back = mm.parse_wav_pcm16(mm.wav_encode_pcm16(samples, rate))
    assert r2 == rate
    assert np.array_equal(back, samples)


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25)
def test_png_roundtrip_exact(w, h, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(codecs.png_decode(codecs.png_encode(img)), img)


@given(st.dates(min_value=__import__("datetime").date(1900, 1, 1),
                max_value=__import__("datetime").date(2099, 12, 31)),
       st.sampled_from(["%d/%m/%Y", "%Y-%m-%d", "%d-%m-%Y", "%m/%d/%Y"]))
@settings(max_examples=100)
def test_date_parse_format_roundtrip(d, fmt):
    s = d.strftime(fmt)
    assert datefmt.parse_date(s, fmt) == d
    inferred = datefmt.infer_date_format(s)
    if inferred is not None:  # ambiguous d/m vs m/d may infer the other order
        assert datefmt.parse_date(s, inferred) is not None


@given(short_text)
def test_scrub_idempotent_and_total(s):
    once = scrub_text(s)
    assert scrub_text(once) == once  # replacement tokens never re-match
    assert scrub_text(None) is None


@st.composite
def arith_expr(draw, depth=0):
    """Random arithmetic expression over int literals with + - * and parens
    (no division — SQL / is typed division, Python's isn't)."""
    if depth >= 3 or draw(st.booleans()):
        return str(draw(st.integers(min_value=0, max_value=99)))
    op = draw(st.sampled_from(["+", "-", "*"]))
    left = draw(arith_expr(depth=depth + 1))
    right = draw(arith_expr(depth=depth + 1))
    return f"({left} {op} {right})"


@given(arith_expr())
@settings(max_examples=40, deadline=None)
def test_mapping_expr_arithmetic_matches_python(spark_lazy, expr):
    from dataqualitycontroltool_spark.functions import compile_expression

    spark = spark_lazy()
    got = spark.range(1).select(compile_expression(expr).alias("r")).collect()[0].r
    assert got == eval(expr)  # noqa: S307 - expression built from safe grammar


import pytest as _pytest


@_pytest.fixture(scope="module")
def spark_lazy(spark):
    """Hypothesis forbids function-scoped fixtures; hand it a session getter."""
    return lambda: spark


# --- streaming session fold == batch sessionizer under random delivery ----


def _reference_sessions(times, gap_us):
    """Ground truth: sort all event times, split on gaps > gap_us."""
    out = []
    for t in sorted(times):
        if out and t - out[-1][1] <= gap_us:
            out[-1][1] = t
            out[-1][2] += 1
        else:
            out.append([t, t, 1])
    return {(s[0], s[1], s[2]) for s in out}


@given(
    st.lists(st.integers(min_value=0, max_value=2000), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=300),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_stream_fold_equals_reference_under_random_batching(times, gap_s, data):
    """The applyInPandasWithState fold, driven across RANDOM micro-batch
    splits with a monotone watermark, must emit exactly the reference
    sessions (each once) and hold the rest in state — for any ordering
    the watermark admits."""
    import pandas as pd

    from dataqualitycontroltool_spark.streaming.sessionize import _make_session_fn
    from tests.test_sessionize import _FakeState

    gap_us = gap_s * 1_000_000
    fn = _make_session_fn("ts", "value", gap_seconds=gap_s)
    st_ = _FakeState()

    # deliver in random batches; watermark = max delivered time (zero
    # lateness) — any event at/above the watermark is admissible, and the
    # shuffled order inside a batch exercises the out-of-order fold
    order = data.draw(st.permutations(times))
    n_batches = data.draw(st.integers(min_value=1, max_value=5))
    emitted = []
    wm_us = 0
    delivered = []
    for i, t in enumerate(order):
        delivered.append(t)
        if i % max(1, len(order) // n_batches) == 0 or i == len(order) - 1:
            batch = [x for x in delivered if x * 1_000_000 >= wm_us]
            if len(batch) != len(delivered):
                return  # late-dropped events change the reference set; skip case
            delivered = []
            if not batch:
                continue
            events = [(pd.Timestamp(x, unit="s"), 1.0) for x in batch]
            for out in _run(fn, st_, events, wm_us // 1000):
                emitted.append(out)
            wm_us = max(wm_us, max(x * 1_000_000 for x in batch))

    # final timeout flush at watermark -> +infinity
    st_.hasTimedOut = True
    st_._wm = 10**15
    for out in fn((1,), iter([]), st_):
        emitted.append(out)

    got = set()
    for pdf in emitted:
        for r in pdf.itertuples(index=False):
            key = (int(r.session_start.value // 1000), int(r.session_end.value // 1000),
                   int(r.n_events))
            assert key not in got, "duplicate emission"
            got.add(key)
    want = _reference_sessions([t * 1_000_000 for t in order], gap_us)
    assert got == want


def _run(fn, state, events, wm_ms):
    import pandas as pd

    state._wm = wm_ms
    state.hasTimedOut = False
    pdf = pd.DataFrame(events, columns=["ts", "value"])
    return list(fn((1,), iter([pdf]), state))


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    palette=st.integers(2, 256),
    sg=st.booleans(),
    cb=st.sampled_from([0, 3, 6]),
)
def test_vp8l_roundtrip_exact(w, h, seed, palette, sg, cb):
    """Lossless WebP: decode(encode(x)) == x for arbitrary sizes, palettes
    (run/cache-heavy at small palettes), transforms and cache settings —
    including the COLOR_INDEXING path whenever the image fits a 256-color
    table (r4: palette sizes here can exceed 256 DISTINCT combined colors
    across 3 channels, so gate on the actual count)."""
    from dataqualitycontroltool_spark.graft import vp8l

    rng = np.random.default_rng(seed)
    img = rng.integers(0, palette, (h, w, 3)).astype(np.uint8)
    data = vp8l.encode(img, subtract_green=sg, cache_bits=cb)
    assert np.array_equal(vp8l.decode(data), img)
    n_colors = len(np.unique(img.reshape(-1, 3), axis=0))
    if n_colors <= 256:
        pal_data = vp8l.encode(img, palette=True, cache_bits=cb)
        assert np.array_equal(vp8l.decode(pal_data), img)
