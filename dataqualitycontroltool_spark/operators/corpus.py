"""Text-corpus curation — the documents twin of the image quality-filter
pipeline (graft/pipeline.py): one declarative plan producing per-document
keep/drop decisions with pinned drop reasons and lineage counts.

Stages (all composable operators from this package):
1. exact dedup     — md5 content fingerprint, survivor = smallest id;
2. near dedup      — MinHash+LSH verified Jaccard >= threshold; the LARGER
                     id of every near-dup pair is dropped (greedy pairwise
                     keep-smallest — deterministic and engine-replayable;
                     full connected-components resolution is an iterative
                     refinement left to the orchestrator when clusters
                     chain, documented trade);
3. quality         — Gopher/C4-style signals (textstats.quality_keep);
4. language        — marker language-ID ∈ allowed set.

Drop reason is the FIRST failing stage in the order above (same pinned-
precedence contract as the image rule engine, graft/rules.py); NULL text
short-circuits everything with its own reason (a null/unparseable doc must
never pass the gate by predicate-NULL fallthrough).

Scale shape: stages 3-4 are pure projections; stage 1 is one hash
aggregate joined back on the fingerprint (no per-group id arrays — a
boilerplate fingerprint with millions of members stays a 1-row aggregate,
never a giant collect_list row); stage 2 is the banded-LSH plan.  The
loser sets join back to the corpus as PLAIN equi-joins on uniform keys —
no broadcast hints: on a duplicate-heavy crawl (30-50% losers is normal
for web corpora) the loser sets are O(corpus), and AQE will still pick a
broadcast join at runtime when they happen to be small."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dataqualitycontroltool_spark.operators import dedup, textstats

DEFAULT_ALLOWED_LANGS = ("en", "es", "de", "fr")


def curate_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    allowed_langs: tuple = DEFAULT_ALLOWED_LANGS,
) -> DataFrame:
    """(id, keep, drop_reason) per document; drop_reason ∈
    {null_text, exact_duplicate, near_duplicate, low_quality, bad_language,
    null}."""
    c = F.col(text_col)

    # stage 1: exact-dup groups (fingerprint, survivor) joined back on the
    # fingerprint — a doc is a loser iff its group has >1 member and it is
    # not the survivor.  NULL fingerprints (null text) never join, so null
    # docs fall through to the null_text reason below.
    fp = dedup.content_fingerprint(c)
    groups = dedup.exact_duplicate_groups(df, id_col, text_col).select(
        F.col("fingerprint").alias("_fp"), F.col("survivor_id").alias("_keep_id")
    )

    # stage 2: near-dup losers (larger id of each verified pair)
    near = (
        dedup.minhash_lsh_pairs(df, id_col, text_col, threshold=jaccard_threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_near_loser", F.lit(True))
    )

    quality = textstats.quality_keep(c)
    lang = textstats.lang_marker_id(c)

    out = (
        df.select(
            F.col(id_col),
            fp.alias("_fp"),
            c.isNull().alias("_null_text"),
            quality.alias("_q"),
            lang.alias("_lang"),
        )
        .join(groups, on="_fp", how="left")
        .join(near, on=id_col, how="left")
    )
    reason = (
        F.when(F.col("_null_text"), "null_text")
        .when(F.col("_keep_id").isNotNull() & (F.col(id_col) != F.col("_keep_id")),
              "exact_duplicate")
        .when(F.col("_near_loser"), "near_duplicate")
        .when(~F.col("_q"), "low_quality")
        .when(~F.col("_lang").isin(*allowed_langs), "bad_language")
    )
    return out.select(
        id_col,
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


def select_representatives(
    df: DataFrame, id_col: str, group_cols, score_col: str
) -> DataFrame:
    """Quality-aware survivor election: one row per group with the
    HIGHEST-scoring member as ``rep_id`` (ties broken by smallest id, the
    package-wide deterministic keep policy).  This upgrades the min-id
    survivor of :func:`dedup.exact_duplicate_groups` to the policy real
    curation pipelines use — keep the best member of a duplicate cluster
    (longest / highest-quality), drop the rest.

    Scale shape: ONE aggregate around a single exchange, no window.  The
    election is ``min(struct(is_null, inverted_score, id, score))`` —
    struct ordering compares the null flag first (``false < true``, so ANY
    scored member beats every unscored one, including a genuine ``-inf``
    score), then the losslessly inverted score (min of the inversion ==
    max score), then ``id`` (unique, so the trailing payload field never
    participates).  The inversion is TYPE-EXACT: integral scores use
    bitwise NOT (``~x = -x-1``, a monotone-decreasing bijection with no
    overflow at ``Long.MIN_VALUE`` and no 2^53 double-precision collapse),
    fractional/decimal scores use sign flip (exact for both).
    The planner picks SortAggregate (a struct min has no mutable hash
    buffer), but the map-side PARTIAL aggregation still fires: each task
    sorts only its own partition on the group key and emits one candidate
    row per distinct group, so a million-member duplicate cluster crosses
    the wire as one (group, candidate) pair per task — never a global
    window sort over the corpus.
    An all-NULL-score group elects its min id with an honestly-NULL
    ``rep_score``.

    ``group_cols`` may be one column name or a list (composite cluster
    keys — e.g. (user_id, day) event clusters — group exactly like a
    single fingerprint).  Returns (*group_cols, rep_id, rep_score,
    n_members).
    """
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    s = F.col(score_col)
    dt = df.schema[score_col].dataType.simpleString()
    if dt in ("tinyint", "smallint", "int", "bigint"):
        inv = F.bitwise_not(s.cast("bigint"))
    elif dt in ("float", "double") or dt.startswith("decimal"):
        inv = -s
    else:
        raise TypeError(
            f"score column {score_col!r} must be numeric, got {dt}"
        )
    key = F.struct(
        # the flag decides scored-vs-unscored, so the NULL filler value in
        # the inverted slot never participates in an election
        s.isNull().alias("unscored"),
        F.coalesce(inv, F.lit(0)).alias("inv"),
        F.col(id_col).alias("i"),
        s.alias("orig"),
    )
    return (
        df.groupBy(*group_cols)
        .agg(F.min(key).alias("_b"), F.count(F.lit(1)).alias("n_members"))
        .select(
            *group_cols,
            F.col("_b.i").alias("rep_id"),
            F.col("_b.orig").alias("rep_score"),
            "n_members",
        )
    )


def cap_per_group(
    df: DataFrame,
    id_col: str,
    group_cols,
    k: int,
    seed: str = "42",
    n_shards: int = 64,
) -> DataFrame:
    """MetaCLIP-style balancing: keep at most ``k`` rows per group, chosen
    by the engine-replayable md5 permutation (``md5(id|seed)``, ties → id) —
    the deterministic stand-in for "uniformly sample k per class".  Web
    corpora are grossly group-skewed (English is ~half the crawl; a hot
    phash bucket can hold 10^8 members); capping per group is the standard
    rebalancing move before training.

    Scale shape — the naive ``row_number over (partition by group)`` sorts
    a whole group in ONE task (10^11 rows for `en` at the design scale), so
    the selection runs in two bounded phases, the classic distributed
    top-k:

    1. rank within (group, hash-shard) and keep each shard-stream's k
       smallest — one exchange whose partition count is |groups|·n_shards;
    2. rank the ≤ n_shards·k survivors per group and keep the global k —
       a second exchange over at most |groups|·n_shards·k rows.

    Phase 1 cannot lose a winner: a row in the global top-k has global
    rank <= k, hence shard-local rank <= k.  A NULL group is a group of
    its own (unknown class is still a class — the caller's validity rules
    decide whether it enters at all).  Adds ``cap_rank`` (1..k, the
    group-global permutation rank); re-runs are byte-stable.
    """
    from pyspark.sql import Window

    from dataqualitycontroltool_spark.operators.export import (
        _shuffle_key,
        reserve_columns,
    )

    if isinstance(group_cols, str):
        group_cols = [group_cols]
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    reserve_columns(df, ["_h", "_shard", "_r1", "cap_rank"], "cap_per_group")
    shard = F.pmod(
        F.conv(F.substring(F.col("_h"), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_shards),
    ).cast("int")
    w1 = Window.partitionBy(*group_cols, "_shard").orderBy("_h", id_col)
    w2 = Window.partitionBy(*group_cols).orderBy("_h", id_col)
    return (
        df.withColumn("_h", _shuffle_key(id_col, seed))
        .withColumn("_shard", shard)
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .withColumn("cap_rank", F.row_number().over(w2))
        .where(F.col("cap_rank") <= k)
        .drop("_h", "_shard", "_r1")
    )


def percentile_keep(
    df: DataFrame,
    score_col: str,
    keep_frac: float,
    out_col: str = "keep_topp",
    cache: bool = True,
) -> DataFrame:
    """DataComp-style percentile filtering: keep the top ``keep_frac``
    fraction of rows by score (e.g. CLIP-score top-30%), the published
    alternative to an absolute threshold — the cutoff adapts to the score
    distribution of THIS corpus instead of being hand-tuned per crawl.

    The cutoff is the exact ``1 - keep_frac`` quantile of the score column
    via :func:`operators.quantiles.exact_quantiles` — distributed histogram
    rank-selection, so no single reducer ever buffers the 10^12-row score
    column — rounded to 9 decimals (the package's cross-engine replay
    contract) and applied as ``score >= cutoff``.  Ties AT the cutoff are
    all kept (deterministic; the kept fraction can exceed ``keep_frac`` by
    the tie mass).  NULL scores drop — the treat-unscorable-as-invalid
    policy.  Adds boolean ``out_col``; rows are not removed (the curation
    gate owns removal).

    ``cache`` (default on) persists the SLIM score projection for the
    quantile refinement — each refinement level is a scan, and when the
    score is an expensive expression (an alignment fold, a UDF) every
    level would otherwise recompute it (measured 3.5× on the alignment
    query).  The persisted column is one double per row and is unpersisted
    before returning — the lifecycle is fully internal because the
    quantile resolves eagerly.  Pass ``cache=False`` for one-shot scores
    that are cheaper than the memory write (a raw column).
    """
    from dataqualitycontroltool_spark.operators.quantiles import exact_quantiles

    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    scores = df.select(score_col)
    if cache:
        scores = scores.persist()
    try:
        thr = exact_quantiles(scores, score_col, [1.0 - keep_frac])[0]
    finally:
        if cache:
            scores.unpersist()
    if thr is None:  # no non-NULL scores at all
        return df.withColumn(out_col, F.lit(False))
    return df.withColumn(
        out_col,
        F.coalesce(
            F.col(score_col).cast("double") >= F.lit(round(thr, 9)),
            F.lit(False),
        ),
    )


def curation_lineage(curated: DataFrame) -> DataFrame:
    """Corpus-level lineage row: totals per drop reason + kept count."""
    return (
        curated.groupBy(F.coalesce("drop_reason", F.lit("kept")).alias("outcome"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level line deduplication (C4 §2.2 / RefinedWeb-style
    boilerplate removal): a non-blank line whose trimmed form occurs in
    >= ``min_docs`` DISTINCT documents is boilerplate (nav bars, cookie
    banners, footers) and is removed from EVERY document.  Blank lines are
    layout, not content — never counted, never removed.

    Returns (id, text_clean, n_lines, n_removed); a document whose every
    line was boilerplate keeps an empty ``text_clean``, it is not dropped
    (dropping is the curation gate's decision, not this operator's).

    Scale shape: posexplode (map) → distinct (line_key, id) BEFORE the
    document count, so a line repeated a million times inside one spam doc
    contributes one row to the shuffle and one to the count; the
    boilerplate table is then joined back to the exploded lines on
    line_key as a plain equi-join (it is usually small — AQE broadcasts it
    at runtime — but nothing breaks when a crawl's boilerplate set is
    huge), and documents reassemble with one groupBy(id) using
    position-sorted array_agg.  Three line-granularity shuffles total; a
    pathologically hot key ("Subscribe now" in 10^9 docs) is one row on
    the build side, and the probe side is AQE-skew-splittable.
    """
    c = F.col(text_col)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(c, r"\n")).alias("pos", "line"),
    ).withColumn("line_key", F.trim(F.col("line")))

    hot = (
        lines.where(F.col("line_key") != "")
        .select("line_key", id_col)
        .distinct()
        .groupBy("line_key")
        .agg(F.count(F.lit(1)).alias("_n_docs"))
        .where(F.col("_n_docs") >= min_docs)
        .select("line_key", F.lit(True).alias("_boiler"))
    )

    flagged = lines.join(hot, on="line_key", how="left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_boiler").isNull(),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_boiler").cast("int")).alias("n_removed"),
        )
        .select(
            id_col,
            "text_clean",
            "n_lines",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def _hash8(key, seed: str = "42"):
    """First 8 hex chars of md5(key|seed) — the package's ONE deterministic
    Bernoulli hash (fixed-length lowercase hex: lexicographic == numeric
    order).  Every sampler/split must use this helper so the replayability
    contract stays bit-identical in one place."""
    return F.substring(F.md5(F.concat(key.cast("string"), F.lit("|" + seed))), 1, 8)


def sample_keep_expr(key, frac: float, seed: str = "42"):
    """Deterministic Bernoulli(frac) keep decision from a hash of the key:
    keep iff the first 8 hex chars of md5(key|seed) sort below the
    fraction's hex threshold.  Fixed-length lowercase hex compares
    lexicographically == numerically, so the SAME string comparison replays
    in any engine with md5 — no RNG state, no engine-specific hash, and
    re-running a resumed job re-makes identical decisions (the property a
    checkpoint-resumable sampler at 10^12 rows actually needs)."""
    if frac >= 1.0:
        return F.lit(True)
    if frac <= 0.0:
        return F.lit(False)
    thresh = format(int(frac * (1 << 32)), "08x")
    return _hash8(key, seed) < F.lit(thresh)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict,
    seed: str = "42",
    default_frac: float = 0.0,
) -> DataFrame:
    """Deterministic stratified (domain-mixing) sampler: keep each row with
    its stratum's probability, decided by :func:`sample_keep_expr` on the
    row id — the temperature-sampling building block of LLM data mixes
    (up/down-weighting sources or languages).

    Pure projection + filter: no shuffle, no driver state, no sampleBy
    (whose RNG is partition-order-dependent and unreplayable cross-engine);
    pushes the stratum filter into the scan when ``strata_col`` is a
    partition column.  Rows in strata missing from ``fractions`` keep with
    ``default_frac``."""
    keep = None
    for stratum, frac in sorted(fractions.items()):
        cond = F.col(strata_col) == stratum
        kexpr = sample_keep_expr(F.col(id_col), frac, seed)
        keep = F.when(cond, kexpr) if keep is None else keep.when(cond, kexpr)
    expr = (
        keep.otherwise(sample_keep_expr(F.col(id_col), default_frac, seed))
        if keep is not None
        else sample_keep_expr(F.col(id_col), default_frac, seed)
    )
    return df.where(expr)


def temperature_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    tau: float = 0.5,
    seed: str = "42",
) -> DataFrame:
    """Temperature-based mixture sampling — the standard pretraining-mix
    move (multilingual LMs sample source i proportional to n_i^tau,
    tau < 1 flattening the head): per-stratum keep fractions are computed
    IN-PLAN from the corpus's own counts, ``f_i = round(n_i^(tau-1) /
    max_j n_j^(tau-1), 6)`` — the smallest stratum keeps everything, larger
    ones downsample toward the tempered distribution — and each row decides
    with the same deterministic md5-threshold Bernoulli as
    :func:`stratified_sample` (no RNG state, resumable, engine-replayable).
    The fraction-to-threshold conversion floors before casting because
    double->bigint CAST truncates on Spark but ROUNDS on DuckDB.

    Returns every row with its diagnosis — ``(id, stratum, n_stratum,
    keep_frac, keep)`` — so the mix is auditable; callers filter on
    ``keep``.  Rows whose stratum is NULL are excluded from the count/
    weight computation (an unknown domain must not become the normalizer)
    and surface with NULL ``keep_frac`` and ``keep = false``.  Plan: one
    hash-agg for counts + a 1-row max, joined back (AQE broadcasts the
    small stratum table), then a pure projection — the corpus is scanned
    twice (counts, decisions), never shuffled."""
    counts = (
        df.where(F.col(strata_col).isNotNull())
        .groupBy(F.col(strata_col).alias("_st"))
        .agg(F.count(F.lit(1)).alias("n_stratum"))
    )
    weights = counts.select(
        "_st", "n_stratum", F.pow("n_stratum", F.lit(tau - 1.0)).alias("_wt")
    )
    mx = weights.agg(F.max("_wt").alias("_mx"))
    fracs = weights.join(F.broadcast(mx)).select(
        "_st", "n_stratum", F.round(F.col("_wt") / F.col("_mx"), 6).alias("keep_frac")
    )
    thresh = F.lpad(
        F.lower(
            F.hex(F.floor(F.col("keep_frac") * F.lit(4294967296.0)).cast("bigint"))
        ),
        8,
        "0",
    )
    return (
        df.join(fracs, df[strata_col] == fracs["_st"], "left")
        .select(
            F.col(id_col),
            F.col(strata_col),
            "n_stratum",
            "keep_frac",
            F.coalesce(
                (F.col("keep_frac") >= 1.0) | (_hash8(F.col(id_col), seed) < thresh),
                F.lit(False),
            ).alias("keep"),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fractions: list[tuple[str, float]] = (
        ("train", 0.9),
        ("valid", 0.05),
        ("test", 0.05),
    ),
    seed: str = "42",
    threshold: float = 0.8,
    clusters: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Dedup-aware train/valid/test assignment: near-duplicate documents
    must land in the SAME split (a near-copy of a training doc inside the
    eval split is leakage), so the split key is the doc's near-dup CLUSTER
    label — MinHash-LSH pairs -> large-star/small-star connected components;
    singletons are their own cluster — hashed through the same
    deterministic md5 band scheme as the samplers (first-8-hex threshold
    bands over the cumulative fractions, in the given order).  Returns
    ``(id, comp, split)`` for every row; resumable and engine-replayable,
    no RNG state.

    Scale shape: the cost IS the dedup (LSH + CC, both already
    scale-audited); the assignment itself is one left join + a pure
    projection.  At 10^12 rows you persist the component table ONCE and
    reuse it for every cluster-keyed operator: pass a precomputed
    ``dedup.duplicate_clusters`` result (columns ``(id_col, comp, ...)``)
    as ``clusters`` and the LSH + CC pass is skipped entirely — the same
    injection seam as ``run_pipeline(dedup=...)``."""
    from dataqualitycontroltool_spark.operators import dedup

    if clusters is None:
        clusters = dedup.duplicate_clusters(
            df.select(id_col, text_col), id_col, text_col, threshold, **lsh_kwargs
        )
    comps = clusters.select(F.col(id_col).alias("_cid"), "comp")
    labeled = df.select(F.col(id_col)).join(
        comps, df[id_col] == comps["_cid"], "left"
    ).select(df[id_col], F.coalesce("comp", df[id_col]).alias("comp"))

    h = _hash8(F.col("comp"), seed)
    cum, expr = 0.0, None
    for name, frac in list(fractions)[:-1]:
        cum += frac
        # a band whose cumulative fraction reaches 1.0 must match
        # unconditionally: int(1.0 * 2^32) is 9 hex chars and the 8-char
        # prefix comparison would misroute everything >= 'f...f'
        cond = F.lit(True) if cum >= 1.0 else h < F.lit(
            format(int(cum * (1 << 32)), "08x")
        )
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = list(fractions)[-1][0]
    split = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return labeled.select(id_col, "comp", split.alias("split"))


def normalize_scores(
    df: DataFrame,
    id_col: str,
    group_col: str,
    score_col: str,
) -> DataFrame:
    """Per-group score standardization — quality scores (perplexity,
    alignment, length heuristics) have different scales per source/domain,
    so a single global threshold over- or under-filters some sources;
    z-scoring within the group makes one cutoff comparable everywhere
    (the CCNet per-language-percentile idea in z-score form).  Output
    ``(id, group, score, z)`` with ``z = round((s - mean_g) / stddev_g,
    6)``; NULL when the group has fewer than 2 scores or zero variance
    (no meaningful standardization — the caller's rule decides).  A NULL
    group is its own group (null-safe join), so every input row appears
    in the output.

    Plan: one map-side-combinable hash-agg for the per-group moments,
    joined back (AQE broadcasts the small group table) onto a pure
    projection — the corpus shuffles nothing, the same shape as the
    centroid-outlier signal."""
    stats = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.avg(score_col).alias("_mean"),
        F.stddev_samp(score_col).alias("_sd"),
    )
    return (
        df.join(stats, df[group_col].eqNullSafe(stats["_g"]))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(score_col),
            F.when(
                F.col("_sd").isNotNull() & (F.col("_sd") != 0),
                F.round((F.col(score_col) - F.col("_mean")) / F.col("_sd"), 6),
            ).alias("z"),
        )
    )


def corpus_accounting(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    clusters: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Effective-dataset-size audit — the first slide of every curation
    report, as a CUMULATIVE funnel: raw documents/whitespace tokens
    (``textstats.token_count_ws`` — the same count every other operator
    reports), documents AND tokens surviving exact content dedup, then
    documents AND tokens surviving exact + near-dup clustering (LSH +
    connected components, min-id survivor; the near-dup stage drops the
    UNION of exact losers and cluster losers, so sub-shingle-length exact
    duplicates — invisible to LSH — still leave the funnel).  One row:
    ``(n_docs, n_tokens, docs_after_exact, tokens_after_exact,
    docs_after_neardup, tokens_after_neardup)``.

    Plan: one base aggregate; exact losers come from the fingerprint
    join-back (the curate_documents pattern), cluster losers from
    ``dedup.duplicate_clusters``; each loser set left-semi-joins the slim
    (id, tokens) frame for its drop totals.  On a duplicate-heavy crawl
    the loser sets are O(corpus), so those semi-joins are real exchanges
    over the slim two-column frame — the honest cost of exact token
    accounting; the full text never re-shuffles.

    ``clusters`` — a precomputed ``dedup.duplicate_clusters`` result
    (columns ``(id_col, comp, is_survivor)``) — skips the internal
    LSH + CC pass, so one clustering can feed this audit AND the
    leakage-safe split (at 10^12 rows the clustering is the single most
    expensive pass in the repo; never run it twice)."""
    n_toks = textstats.token_count_ws(F.col(text_col))
    slim = df.select(F.col(id_col), n_toks.alias("_nt"))
    base = slim.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
    )
    fps = df.select(
        F.col(id_col), dedup.content_fingerprint(F.col(text_col)).alias("_f")
    )
    groups = dedup.exact_duplicate_groups(df, id_col, text_col).select(
        F.col("fingerprint").alias("_f"), "survivor_id"
    )
    exact_losers = (
        fps.join(groups, "_f")
        .where(F.col(id_col) != F.col("survivor_id"))
        .select(id_col)
    )
    if clusters is None:
        clusters = dedup.duplicate_clusters(
            df, id_col, text_col, threshold, **lsh_kwargs
        )
    near_losers = clusters.where(~F.col("is_survivor")).select(id_col)
    all_losers = exact_losers.union(near_losers).distinct()

    def drop_totals(losers: DataFrame, prefix: str) -> DataFrame:
        return slim.join(losers, id_col, "left_semi").agg(
            F.count(F.lit(1)).alias(f"_{prefix}_docs"),
            F.coalesce(F.sum("_nt"), F.lit(0)).alias(f"_{prefix}_toks"),
        )

    return (
        base.join(F.broadcast(drop_totals(exact_losers, "ex")))
        .join(F.broadcast(drop_totals(all_losers, "nd")))
        .select(
            "n_docs",
            "n_tokens",
            (F.col("n_docs") - F.col("_ex_docs")).alias("docs_after_exact"),
            (F.col("n_tokens") - F.col("_ex_toks")).cast("bigint").alias(
                "tokens_after_exact"
            ),
            (F.col("n_docs") - F.col("_nd_docs")).alias("docs_after_neardup"),
            (F.col("n_tokens") - F.col("_nd_toks")).cast("bigint").alias(
                "tokens_after_neardup"
            ),
        )
    )
