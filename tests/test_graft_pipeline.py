"""End-to-end pipeline parity vs the independent pandas reference
implementation — the BASELINE.json acceptance gate:

* keep/drop F1 ≥ 0.99 (we assert exact agreement, which implies it)
* scrubbed caption EXACT equality per image
* drop_reason equality (stronger than the gate demands)
* lineage metrics consistency
"""

import pandas as pd
import pytest

from dataqualitycontroltool_spark.graft import synth
from dataqualitycontroltool_spark.graft.pipeline import (
    drop_reason_histogram,
    lineage_metrics,
    run_pipeline,
)
from dataqualitycontroltool_spark.graft.reference_impl import f1_score, reference_labels
from dataqualitycontroltool_spark.graft.rules import RULE_ORDER, KeepDropConfig

N_ROWS = 600
N_PARTS = 4


@pytest.fixture(scope="module")
def input_pdf():
    return pd.concat(
        [synth.generate_pdf(p, N_ROWS // N_PARTS, seed=42) for p in range(N_PARTS)],
        ignore_index=True,
    )


@pytest.fixture(scope="module")
def result_pdf(spark, input_pdf):
    df = spark.createDataFrame(input_pdf, schema=synth.SCHEMA)
    out = run_pipeline(df, KeepDropConfig(), n_partitions=4)
    return out.toPandas().sort_values("image_id").reset_index(drop=True)


@pytest.fixture(scope="module")
def expected_pdf(input_pdf):
    return (
        reference_labels(input_pdf, KeepDropConfig())
        .sort_values("image_id")
        .reset_index(drop=True)
    )


def test_keep_drop_f1(result_pdf, expected_pdf):
    assert list(result_pdf["image_id"]) == list(expected_pdf["image_id"])
    f1 = f1_score(expected_pdf["keep"], result_pdf["keep"])
    assert f1 >= 0.99, f1
    # the two implementations are meant to agree exactly
    assert (result_pdf["keep"] == expected_pdf["keep"]).all()


def test_drop_reasons_match(result_pdf, expected_pdf):
    got = result_pdf["drop_reason"].fillna("kept")
    want = expected_pdf["drop_reason"].fillna("kept")
    mism = result_pdf[got.ne(want)]
    assert mism.empty, mism[["image_id", "drop_reason"]].head(10)


def test_scrubbed_captions_exact(result_pdf, expected_pdf):
    got = result_pdf["caption_scrubbed"]
    want = expected_pdf["caption_scrubbed"]
    same = (got.isna() & want.isna()) | (got == want)
    assert same.all(), result_pdf[~same][["image_id", "caption_scrubbed"]].head(10)


def _assert_kept_rows_decode(input_pdf, result_pdf, is_fmt, psnr_floor):
    """Rows dropped by a cheaper rule short-circuit the decode, so the decode
    assertions are on the kept rows of the format."""
    ids = input_pdf.loc[is_fmt, "image_id"]
    kept = result_pdf[result_pdf["keep"] & result_pdf["image_id"].isin(ids)]
    assert len(kept) and bool(kept["decode_ok"].all())
    assert bool((kept["psnr_db"] >= psnr_floor).all())


def test_pipeline_on_real_jfif_bitstreams(input_pdf, result_pdf):
    """Every default-corpus jpeg row is a baseline T.81/JFIF bitstream
    (graft/jpeg.py); its kept rows decode green through the Spark pipeline
    at PSNR >= 40 dB.  Keep/drop and caption parity on this corpus are
    asserted by test_keep_drop_f1 and test_scrubbed_captions_exact."""
    is_jpeg = input_pdf["fmt"] == "jpeg"
    assert input_pdf.loc[is_jpeg, "bytes"].map(
        lambda b: bytes(b[:2]) == b"\xff\xd8").all()
    _assert_kept_rows_decode(input_pdf, result_pdf, is_jpeg, 40.0)


def test_pipeline_on_real_vp8l_bitstreams(input_pdf, result_pdf):
    """Every default-corpus webp row is a lossless RIFF/VP8L bitstream
    (graft/vp8l.py); its kept rows decode green, lossless (PSNR inf, capped
    at 99)."""
    is_webp = input_pdf["fmt"] == "webp"
    assert input_pdf.loc[is_webp, "bytes"].map(
        lambda b: bytes(b[:4]) == b"RIFF" and bytes(b[12:16]) == b"VP8L").all()
    _assert_kept_rows_decode(input_pdf, result_pdf, is_webp, 99.0)


def test_labels_nontrivial(expected_pdf):
    """The synthetic dirtiness actually exercises every rule family."""
    kept = expected_pdf["keep"].mean()
    assert 0.3 < kept < 0.95, kept
    reasons = set(expected_pdf["drop_reason"].dropna())
    for must in ("missing_caption", "bad_format", "decode_failed", "dim_mismatch",
                 "bad_language", "high_perplexity", "duplicate"):
        assert must in reasons, (must, reasons)
    assert reasons <= set(RULE_ORDER)


def test_lineage_metrics(spark, input_pdf, result_pdf):
    df = spark.createDataFrame(input_pdf, schema=synth.SCHEMA)
    out = run_pipeline(df, KeepDropConfig())
    lm = lineage_metrics(out).toPandas().sort_values("part")
    assert lm["rows_in"].sum() == len(input_pdf)
    assert lm["kept"].sum() == int(result_pdf["keep"].sum())
    assert (lm["rows_in"] == lm["kept"] + lm["dropped"]).all()
    assert lm["rows_scrubbed"].sum() > 0
    hist = drop_reason_histogram(out).toPandas()
    assert hist["n_rows"].sum() == len(input_pdf)
    # one drop-reason map per partition, summing to the global histogram
    summed: dict[str, int] = {}
    for reasons in lm["drop_reasons"]:
        for reason, n in reasons.items():
            summed[reason] = summed.get(reason, 0) + n
    want = dict(zip(hist["reason"], hist["n_rows"]))
    want.pop("kept")
    assert summed == want


def test_broadcast_and_salted_paths_agree(spark):
    """The broadcast dedup join (default) and the shuffle join + salted
    repartition fallback (n_partitions set) are alternative physical plans
    for the SAME logical pipeline — keep/drop/scrub output must be equal."""
    from dataqualitycontroltool_spark.graft.synth import generate_images

    df = generate_images(spark, 400, n_partitions=4).cache()
    a = run_pipeline(df, KeepDropConfig())
    b = run_pipeline(df, KeepDropConfig(), n_partitions=8)
    ka = {r.image_id: (r.keep, r.drop_reason, r.caption_scrubbed, r.is_dup)
          for r in a.collect()}
    kb = {r.image_id: (r.keep, r.drop_reason, r.caption_scrubbed, r.is_dup)
          for r in b.collect()}
    assert ka == kb and len(ka) == 400
    df.unpersist()


def test_hamming_dedup_catches_near_dup_phashes(spark):
    """Near-duplicate images (perturbed cluster variants) have phashes a few
    bits apart — exact-equality dedup misses them, hamming dedup groups
    them transitively."""
    from dataqualitycontroltool_spark.graft.pipeline import (
        dedup_index,
        hamming_dedup_index,
    )
    from dataqualitycontroltool_spark.graft.synth import generate_images

    df = generate_images(spark, 600, n_partitions=4).cache()
    exact = dedup_index(df, "phash")
    ham = hamming_dedup_index(df, "phash", max_hamming=3)

    n_exact_dup = (
        exact.where("n_members > 1").agg({"n_members": "sum"}).collect()[0][0] or 0
    )
    n_ham_dup = ham.where("n_members > 1").agg({"n_members": "sum"}).collect()[0][0]
    assert n_ham_dup >= n_exact_dup  # strictly more rows join a dup group...
    assert n_ham_dup > 0

    # consistency: every exact-dup group survives inside some hamming group,
    # and keepers are still the minimum image_id of their (larger) group
    h = {r.phash: (r.keeper_id, r.n_members) for r in ham.collect()}
    for r in exact.where("n_members > 1").collect():
        hk, hn = h[r.phash]
        assert hn >= r.n_members
        assert hk <= r.keeper_id

    # end-to-end: pipeline runs with the hamming config and flags >= as many dups
    out_exact = run_pipeline(df, KeepDropConfig())
    out_ham = run_pipeline(df, KeepDropConfig(dedupe_hamming=3))
    d_exact = out_exact.where("is_dup").count()
    d_ham = out_ham.where("is_dup").count()
    assert d_ham >= d_exact
    df.unpersist()
