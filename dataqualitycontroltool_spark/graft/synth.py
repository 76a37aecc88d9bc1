"""Deterministic synthetic image+caption table (BASELINE.json input_hint).

Generates the exact input shape the north_rule targets —
``(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64)`` plus a ``part`` partition column (the
Iceberg-partition stand-in for checkpoint/resume) — fully seeded, no
external data, generated IN PARALLEL on executors via ``mapInPandas``
(the driver ships only (partition, count) seeds, never pixel data).

Dirtiness is injected at fixed rates so keep/drop labels are non-trivial:
corrupted bytes, dimension-metadata lies, captions in disallowed
languages, high-perplexity gibberish, PII/toxicity needing scrubbing,
missing captions, exact and near duplicates (phash skew clusters —
cluster 0 is deliberately huge to exercise salting).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, types as T

from dataqualitycontroltool_spark.graft import codecs

SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("part", T.IntegerType(), False),
    ]
)

# per-language word stock (deterministic, embedded — no external data)
WORDS = {
    "en": ("the quick brown fox jumps over a lazy dog near the old stone bridge "
           "while children play in the green park under a bright summer sky and "
           "people walk their dogs along the river bank every single morning").split(),
    "es": ("el rapido zorro marron salta sobre un perro perezoso cerca del viejo "
           "puente de piedra mientras los ninos juegan en el parque verde bajo un "
           "cielo brillante de verano y la gente pasea sus perros por la orilla").split(),
    "de": ("der schnelle braune fuchs springt uber einen faulen hund nahe der alten "
           "steinbrucke wahrend kinder im grunen park unter einem hellen sommerhimmel "
           "spielen und leute ihre hunde am flussufer jeden morgen spazieren").split(),
    "fr": ("le rapide renard brun saute par dessus un chien paresseux pres du vieux "
           "pont de pierre pendant que les enfants jouent dans le parc vert sous un "
           "ciel lumineux et les gens promenent leurs chiens le long de la riviere").split(),
    "it": ("la veloce volpe marrone salta sopra un cane pigro vicino al vecchio "
           "ponte di pietra mentre i bambini giocano nel parco verde sotto un cielo "
           "luminoso e la gente porta a spasso i cani lungo la riva del fiume").split(),
}
ALLOWED_LANGS = ("en", "es", "de", "fr")  # 'it' deliberately disallowed

TOXIC_WORDS = ("damn", "hell", "crap", "shit", "bastard")
PII_EMAILS = ("john.doe@example.com", "mail+spam@test.org", "a.b@sub.domain.io")
PII_PHONES = ("+1-555-0142", "(555) 012-3456", "555-014-9999")
PII_URLS = ("https://example.com/x?q=1", "http://tracker.io/p/88", "www.spam-site.net/abc")
PII_SSNS = ("123-45-6789", "987-65-4321")
PII_IPS = ("192.168.1.77", "10.0.0.254")

# injection rates (per row)
R_BAD_BYTES = 0.02       # corrupted/truncated image stream
R_DIM_LIE = 0.03         # w/h metadata disagrees with decoded pixels
R_BAD_FMT = 0.02         # fmt outside the enum
R_MISSING_CAPTION = 0.04
R_GIBBERISH = 0.05       # high-perplexity caption
R_DISALLOWED_LANG = 0.06 # Italian caption
R_PII = 0.10
R_TOXIC = 0.08
R_NEAR_DUP = 0.10        # near-duplicate of a cluster base image
W_RANGE = (16, 96)       # generated image sizes (multiples of 8)

DEFAULT_PARTITIONS = 16
SKEW_CLUSTER_SHARE = 0.5  # share of near-dups that land in cluster 0 (skew)


def _gibberish(rng: np.random.Generator, n_words: int) -> str:
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))
    return " ".join(
        "".join(rng.choice(letters, size=rng.integers(4, 11)))
        for _ in range(n_words)
    )


def _caption(rng: np.random.Generator, lang: str, n_words: int) -> str:
    ws = WORDS[lang]
    return " ".join(ws[i] for i in rng.integers(0, len(ws), size=n_words))


def _base_image(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Band-limited sinusoidal texture + low noise: structured and
    compressible, but with non-monotonic block means so perceptual hashes
    are discriminative (a plain gradient would give every image the same
    aHash)."""
    xx, yy = np.meshgrid(np.linspace(0, 1, w), np.linspace(0, 1, h))
    chans = []
    for _ in range(3):
        fx, fy = rng.uniform(1.0, 4.0), rng.uniform(1.0, 4.0)
        px, py = rng.uniform(0, 2 * np.pi), rng.uniform(0, 2 * np.pi)
        c = (
            127
            + 70 * np.sin(2 * np.pi * fx * xx + px)
            + 45 * np.sin(2 * np.pi * fy * yy + py)
        )
        chans.append(c)
    img = np.stack(chans, axis=-1)
    img += rng.normal(0, 6, img.shape)
    return img.clip(0, 255).astype(np.uint8)


def generate_pdf(
    part: int, n_rows: int, seed: int = 42, w_range: tuple[int, int] = W_RANGE,
    real_jpeg_frac: float = 1.0, real_webp_frac: float = 1.0,
) -> pd.DataFrame:
    """One partition of the table as pandas — pure function of (part, n, seed).
    ``w_range`` sets generated image dimensions (multiples of 8): bench uses
    larger images so per-row decode work dominates fixed costs.  Every image
    is a genuine bitstream of its format's one codec (``codecs.encode``):
    PNG, baseline T.81/JFIF JPEG, lossless RIFF/VP8L WebP.
    ``real_jpeg_frac``/``real_webp_frac`` are accepted for callers that
    still pass them and must be 1.0 (every jpeg/webp row is genuine)."""
    if real_jpeg_frac != 1.0 or real_webp_frac != 1.0:
        raise ValueError(
            "generate_pdf: real_jpeg_frac and real_webp_frac must be 1.0 — "
            "every jpeg/webp row is a genuine bitstream"
        )
    rng = np.random.default_rng(seed * 1_000_003 + part)
    # per-partition near-dup cluster bases (cluster 0 shared-shape: same seed)
    base_rng = np.random.default_rng(seed)
    cluster_bases = [_base_image(base_rng, 64, 64) for _ in range(4)]

    rows = []
    for i in range(n_rows):
        image_id = f"img-{part:04d}-{i:07d}"
        # language: skewed (en-heavy) to exercise language-skew salting
        lang = rng.choice(["en", "en", "en", "en", "es", "de", "fr"])
        fmt = str(rng.choice(["png", "jpeg", "webp"], p=[0.5, 0.35, 0.15]))

        u = rng.random()
        if u < R_NEAR_DUP:
            # near-duplicate: perturb a cluster base; cluster 0 is the hot key
            cidx = 0 if rng.random() < SKEW_CLUSTER_SHARE else int(rng.integers(1, 4))
            img = cluster_bases[cidx].astype(np.int32)
            img = (img + rng.integers(-2, 3, img.shape)).clip(0, 255).astype(np.uint8)
        else:
            w0 = int(rng.integers(w_range[0] // 8, w_range[1] // 8 + 1)) * 8
            h0 = int(rng.integers(w_range[0] // 8, w_range[1] // 8 + 1)) * 8
            img = _base_image(rng, w0, h0)
        h0, w0 = img.shape[:2]

        if fmt != "png":
            # one draw per jpeg/webp row, unused, so that a seed keeps the
            # random stream (and the corpus) it had when this draw chose
            # the codec
            rng.random()
        data = codecs.encode(img, fmt)
        ph = codecs.phash64(img)
        w_meta, h_meta = w0, h0

        if rng.random() < R_BAD_BYTES:
            data = data[: max(8, len(data) // 3)]  # truncated stream
        if rng.random() < R_DIM_LIE:
            w_meta, h_meta = w0 + 8, h0  # metadata lies about width
        if rng.random() < R_BAD_FMT:
            fmt = str(rng.choice(["tiff", "bmp", "gif"]))

        # caption
        cu = rng.random()
        if cu < R_MISSING_CAPTION:
            caption = None if rng.random() < 0.5 else ""
        elif cu < R_MISSING_CAPTION + R_GIBBERISH:
            caption = _gibberish(rng, int(rng.integers(6, 14)))
        elif cu < R_MISSING_CAPTION + R_GIBBERISH + R_DISALLOWED_LANG:
            caption = _caption(rng, "it", int(rng.integers(6, 16)))
        else:
            caption = _caption(rng, lang, int(rng.integers(5, 18)))

        if caption:
            if rng.random() < R_PII:
                pii = str(rng.choice(list(PII_EMAILS + PII_PHONES + PII_URLS
                                          + PII_SSNS + PII_IPS)))
                caption = f"{caption} contact {pii}"
            if rng.random() < R_TOXIC:
                tox = str(rng.choice(list(TOXIC_WORDS)))
                caption = f"{caption} {tox} ending"

        rows.append((image_id, bytearray(data), w_meta, h_meta, fmt, caption, ph, part))

    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "part"]
    )


def generate_images(
    spark: SparkSession,
    n_rows: int,
    n_partitions: int = DEFAULT_PARTITIONS,
    seed: int = 42,
    w_range: tuple[int, int] = W_RANGE,
) -> DataFrame:
    """Distributed generation: the driver ships only (part, count, seed) rows;
    executors synthesize pixels/captions via mapInPandas (Arrow-batched)."""
    per = [n_rows // n_partitions] * n_partitions
    for i in range(n_rows % n_partitions):
        per[i] += 1
    seeds = spark.createDataFrame(
        [(p, per[p], seed) for p in range(n_partitions)],
        "part int, n int, seed int",
    ).repartition(n_partitions, "part")

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                yield generate_pdf(int(row["part"]), int(row["n"]), int(row["seed"]),
                                   w_range)

    return seeds.mapInPandas(gen, SCHEMA)


def write_images(
    spark: SparkSession,
    path: str,
    n_rows: int,
    n_partitions: int = DEFAULT_PARTITIONS,
    seed: int = 42,
    w_range: tuple[int, int] = W_RANGE,
) -> None:
    """Materialize the synthetic table partitioned by `part` (the Iceberg
    partition layout stand-in that checkpoint/resume iterates)."""
    (
        generate_images(spark, n_rows, n_partitions, seed, w_range)
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(path)
    )
