"""The caption quality-filter pipeline (BASELINE.json north_star), assembled.

One logical plan, declared stage by stage so Catalyst owns the physical
strategy:

1. **salted repartition** — ``pmod(xxhash64(image_id), n)`` balances tasks
   even when the input layout clusters hot phash / language values into few
   files (north_rule: "salted repartitioning to defuse phash/language skew").
   Deterministic (no ``rand()``), so re-runs produce identical partitions.
2. **dedup index** — exact-duplicate keys resolved via
   ``groupBy(phash).agg(min(image_id))``: hash aggregation does map-side
   partial combine, so a million-row hot phash cluster contributes ONE row
   per task to the shuffle — this is the skew-proof alternative to a
   ``Window.partitionBy(phash)`` (which would put the whole hot key in one
   task). The index joins back on phash with AQE skew-join enabled.
3. **cheap metadata rules** first (fmt/w/h/caption length) — pure codegen.
4. **model stages** — langid + perplexity (Arrow-batched pandas UDFs) and
   decode validation, computed ONLY for rows that still survive the cheap
   rules (at 10^12 scale, not decoding images that a metadata rule already
   killed is a large saving).
5. **scrub** — regexp_replace chain (codegen).
6. **keep/drop** — rule engine when-chain.
7. **lineage** — per-partition metrics aggregate (:func:`lineage_columns`,
   one definition shared by :func:`lineage_metrics` and the checkpoint
   sink's ``Observation``).

Columns out: every input column (minus ``bytes``) + ``lang``, ``ppl``,
``decode_ok``, ``dec_w``, ``dec_h``, ``psnr_db``, ``is_dup``,
``caption_scrubbed``, ``n_scrub_hits``, ``drop_reason``, ``keep``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from dataqualitycontroltool_spark.graft import scrub
from dataqualitycontroltool_spark.graft.decode import decode_check
from dataqualitycontroltool_spark.graft.langid import langid
from dataqualitycontroltool_spark.graft.perplexity import perplexity
from dataqualitycontroltool_spark.graft.rules import RULE_ORDER, KeepDropConfig, apply_rules

OUTPUT_COLUMNS = [
    "image_id", "w", "h", "fmt", "caption", "phash", "part",
    "lang", "ppl", "decode_ok", "dec_w", "dec_h", "psnr_db", "is_dup",
    "caption_scrubbed", "n_scrub_hits", "drop_reason", "keep",
]


def salt_repartition(df: DataFrame, n: int, key: str = "image_id") -> DataFrame:
    """Deterministic skew-defusing repartition: hash a HIGH-cardinality key
    (never the skewed one) so hot phash/language clusters spread evenly."""
    return df.repartition(n, F.pmod(F.xxhash64(F.col(key)), F.lit(n)))


def dedup_index(df: DataFrame, key: str = "phash") -> DataFrame:
    """(key, keeper_id, n_members): the row to keep per exact-duplicate group
    plus the group size (so consumers can restrict to real duplicate groups).

    Partial-aggregating ``min``/``count`` is skew-immune (map-side combine);
    the reference's analogue is the unique/PK duplicate cache
    (`/root/reference/mipqctool/controller/tableprofiler.py:173-182`).
    """
    return df.groupBy(key).agg(
        F.min("image_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_members")
    )


def hamming_dedup_index(
    df: DataFrame, key: str = "phash", max_hamming: int = 3, id_col: str = "image_id"
) -> DataFrame:
    """(key, keeper_id, n_members) like :func:`dedup_index`, but merging
    fingerprint values within ``max_hamming`` bits into ONE group — the
    north-star's phash NEAR-duplicate groups (re-encodes / slight crops
    share a perceptual hash up to a few flipped bits, never exactly).

    Plan: distinct phashes (already reduced — one row per value, not per
    image) → banded hamming self-join → connected components (transitive:
    a≈b≈c merges even when a,c differ by 2·max_hamming) → fold per-value
    keeper/count up to the component level.  Only phashes that participate
    in near-dup pairs enter the iterative step."""
    from dataqualitycontroltool_spark.operators.dedup import (
        banded_hamming_pairs,
        connected_components,
    )

    ph = df.select(F.col(key).alias("fp_id"), F.col(key).alias("fp")).distinct()
    pairs = banded_hamming_pairs(ph, "fp_id", "fp", max_hamming)
    comps = connected_components(pairs)  # (id=phash, comp=min phash in cluster)

    per_key = df.groupBy(key).agg(
        F.min(id_col).alias("_keeper"), F.count(F.lit(1)).alias("_n")
    )
    merged = (
        per_key.join(comps, per_key[key] == comps.id, "left")
        .withColumn("comp", F.coalesce("comp", F.col(key)))
        .select(key, "comp", "_keeper", "_n")
    )
    comp_agg = merged.groupBy("comp").agg(
        F.min("_keeper").alias("keeper_id"), F.sum("_n").alias("n_members")
    )
    return merged.select(key, "comp").join(comp_agg, "comp").select(
        key, "keeper_id", "n_members"
    )


def build_dedup_index(df: DataFrame, cfg: KeepDropConfig) -> DataFrame:
    """The dedup index ``cfg`` asks for: :func:`hamming_dedup_index` when
    ``cfg.dedupe_hamming > 0``, else the exact :func:`dedup_index`."""
    if cfg.dedupe_hamming > 0:
        return hamming_dedup_index(df, cfg.dedupe_on, cfg.dedupe_hamming)
    return dedup_index(df, cfg.dedupe_on)


def run_pipeline(
    df: DataFrame,
    cfg: KeepDropConfig | None = None,
    n_partitions: int | None = None,
    dedup: DataFrame | None = None,
) -> DataFrame:
    """Full keep/drop + scrub plan over an image+caption DataFrame.

    ``dedup`` lets the checkpoint orchestrator precompute the global dedup
    index once and reuse it per partition (resume-safe global semantics).
    """
    cfg = cfg or KeepDropConfig()

    # Duplicate flag: BROADCAST-join the duplicate-groups-only slice of the
    # dedup index (n_members > 1; singleton groups can never flag a dup).
    # This keeps the `bytes` column out of every shuffle — the pipeline's
    # data path is then scan → broadcast join → project(UDFs) → sink, i.e. a
    # pure map job over input splits, which is what makes N→4N scaling
    # near-linear.  When the duplicate-group index is too big to broadcast
    # (pathological corpora), pass ``n_partitions`` to fall back to a salted
    # shuffle layout; the join then hash-partitions by phash and the salt
    # re-spreads the hot clusters before the UDF stage.
    if cfg.dedupe_on:
        idx = dedup if dedup is not None else build_dedup_index(df, cfg)
        dup_groups = idx.where(F.col("n_members") > 1).select(
            cfg.dedupe_on, "keeper_id")
        if not n_partitions:
            dup_groups = F.broadcast(dup_groups)
        df = df.join(dup_groups, on=cfg.dedupe_on, how="left").withColumn(
            "is_dup",
            F.col("keeper_id").isNotNull() & (F.col("image_id") != F.col("keeper_id")),
        ).drop("keeper_id")
    else:
        df = df.withColumn("is_dup", F.lit(False))

    # Salt AFTER the phash join (only in shuffle-join mode): the join's
    # output is hash-distributed by phash, i.e. every hot near-dup cluster
    # sits in one task — exactly the wrong layout for the expensive
    # decode/langid UDF stage that follows.  (Salting before the join would
    # be erased by the join's own exchange.)
    if n_partitions:
        df = salt_repartition(df, n_partitions)

    cap = F.col("caption")
    cap_missing = cap.isNull() | cap.isin(*cfg.missing_values)
    cheap_alive = (
        ~cap_missing
        & F.col("fmt").isin(*cfg.formats)
        & F.col("w").isNotNull() & F.col("h").isNotNull()
        & (F.col("w") >= cfg.min_w) & (F.col("w") <= cfg.max_w)
        & (F.col("h") >= cfg.min_h) & (F.col("h") <= cfg.max_h)
    )

    # model stages — Spark evaluates pandas UDFs in an unconditional
    # ArrowEvalPython node (a `when` around the UDF does NOT skip it), so the
    # short-circuit nulls the UDF *inputs*: dead rows cost one null check in
    # the batch instead of a decode/score.
    cap_in = F.when(~cap_missing, cap)
    bytes_in = F.when(cheap_alive, F.col("bytes"))

    df = df.withColumns(
        {
            "lang": F.coalesce(langid(cap_in), F.lit("und")),
            "ppl": perplexity(cap_in),
            "_dec": decode_check(bytes_in, F.col("fmt")),
        }
    ).withColumns(
        {
            "decode_ok": F.col("_dec.decode_ok"),
            "dec_w": F.col("_dec.dec_w"),
            "dec_h": F.col("_dec.dec_h"),
            "psnr_db": F.col("_dec.psnr_db"),
            "caption_scrubbed": F.when(~cap_missing, scrub.scrub_column(cap)),
            "n_scrub_hits": F.when(~cap_missing, scrub.scrub_flags(cap)).otherwise(0),
        }
    ).drop("_dec")

    return apply_rules(df, cfg).select(*OUTPUT_COLUMNS)


def lineage_columns() -> list[Column]:
    """The per-partition lineage aggregate (north_rule: 'per-partition
    lineage + metrics'): input/kept/dropped counts, scrub totals and a
    drop-reason map holding only the reasons that fired.  Plain aggregate
    expressions, so the same list serves a ``groupBy().agg`` and an
    ``Observation`` on the sink write."""
    return [
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(F.col("keep")).alias("kept"),
        F.count_if(~F.col("keep")).alias("dropped"),
        F.count_if(F.col("n_scrub_hits") > 0).alias("rows_scrubbed"),
        F.coalesce(F.sum("n_scrub_hits"), F.lit(0).cast("long")).alias("scrub_hits"),
        F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(r) for r in RULE_ORDER]),
                F.array(*[F.count_if(F.col("drop_reason") == r) for r in RULE_ORDER]),
            ),
            lambda _, n: n > 0,
        ).alias("drop_reasons"),
    ]


def lineage_metrics(result: DataFrame, by: str = "part") -> DataFrame:
    """One lineage row per ``by`` value: a single map-side-partial hash
    aggregation — no window, no join, no skew risk."""
    return result.groupBy(by).agg(*lineage_columns())


def drop_reason_histogram(result: DataFrame) -> DataFrame:
    return (
        result.groupBy(F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("reason"))
        .agg(F.count("*").alias("n_rows"))
    )
