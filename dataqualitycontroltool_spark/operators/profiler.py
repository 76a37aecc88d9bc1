"""Per-column profilers (reference §2.5 A1-A9) as single-pass Spark aggregates.

The reference computes per-column stats by materializing every column as a
Python list and calling numpy/Counter on it (``model/qctypes/numerical.py:73-102``,
``integer.py:106-125``, ``nominal.py:15-31``, ``text.py:62-78``).  Here each
profile is a declarative plan: one scan, partial/final hash aggregation, no
driver-side data.

Parity decisions (SURVEY §7):
* exact ``percentile`` (linear interpolation — matches ``np.quantile`` and
  DuckDB ``quantile_cont``), NOT ``approx_percentile``; callers can pass
  ``exact=False`` to trade for the sketch-based version at extreme scale.
* sample stddev (ddof=1) → ``stddev_samp`` (numerical.py:87).
* mode/top tie-break: ``Counter.most_common(1)`` breaks ties by insertion
  (file) order, which has no Spark equivalent; we pin ties to the SMALLEST
  value (freq desc, value asc) and use the same rule in oracle SQL.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window, functions as F, types as T

_STAT_DECIMALS = 6  # round float aggregates so Spark/DuckDB ulp noise cancels


def _pct_expr(col: str, ps: str, exact: bool = True) -> str:
    fn = "percentile" if exact else "approx_percentile"
    return f"{fn}({col}, array({ps}))"


def _quartiles_col(df: DataFrame, col: str, exact) -> "Column":
    """array(q1, median, q3) as a Column under the chosen strategy.

    * ``exact=True`` — Spark's exact ``percentile`` aggregate: right answers,
      but its value→count map merges through ONE reducer (fails at 10^12-row
      high-cardinality columns).
    * ``exact=False`` — ``approx_percentile`` sketch: scales, not exact.
    * ``exact="distributed"`` — :func:`operators.quantiles.exact_quantiles`:
      exact AND scale-correct (histogram rank-selection, no single-reducer
      state); runs eagerly and is folded back into the plan as literals.
    """
    if exact == "distributed":
        from dataqualitycontroltool_spark.operators.quantiles import exact_quantiles

        q = exact_quantiles(df, col, [0.25, 0.5, 0.75])
        return F.array(*[F.lit(x).cast("double") for x in q])
    if isinstance(exact, str):
        # any other string would silently bool() to the single-reducer exact
        # path — the opposite of what a caller typo'ing "distributed" wanted
        raise ValueError(
            f"exact={exact!r}: expected True, False or 'distributed'"
        )
    return F.expr(_pct_expr(col, "0.25d, 0.5d, 0.75d", bool(exact)))


def profile_numerical(
    df: DataFrame, col: str, threshold: float = 3.0, exact: bool = True
) -> DataFrame:
    """A1 (numerical.py:73-102): mean, sample std, min/max, exact q1/median/q3,
    mean±t·std outlier bounds, outlier count.

    One-row result.  Two logical passes over the column — stats, then outlier
    count against the computed bounds — expressed as one DataFrame via a
    broadcast join of the 1-row stats (no driver round-trip, resilient to AQE).
    """
    d = _STAT_DECIMALS
    stats = (
        df.agg(
            F.mean(col).alias("_mean"),
            F.stddev_samp(col).alias("_std"),
            F.min(col).alias("min"),
            F.max(col).alias("max"),
            _quartiles_col(df, col, exact).alias("_q"),
        )
        .select(
            F.round("_mean", d).alias("mean"),
            F.round("_std", d).alias("std"),
            "min",
            "max",
            F.round(F.col("_q")[0], d).alias("q1"),
            F.round(F.col("_q")[1], d).alias("median"),
            F.round(F.col("_q")[2], d).alias("q3"),
            F.round(F.col("_mean") + threshold * F.col("_std"), d).alias("upperbound"),
            F.round(F.col("_mean") - threshold * F.col("_std"), d).alias("lowerbound"),
        )
    )
    # outliers: value >= upper OR value <= lower (numerical.py:95-99 uses >=/<=)
    joined = df.select(F.col(col).alias("_v")).join(
        F.broadcast(stats),
        (F.col("_v") >= F.col("upperbound")) | (F.col("_v") <= F.col("lowerbound")),
        "right",
    )
    return joined.groupBy(
        "mean", "std", "min", "max", "q1", "median", "q3", "upperbound", "lowerbound"
    ).agg(F.count("_v").alias("outliers"))


def outlier_rows(
    df: DataFrame, col: str, key: str, threshold: float = 3.0, exact: bool = True
) -> DataFrame:
    """A1's ``outliersrows`` — (key, value) of rows outside mean±t·std.
    Keyed by a stable column, not 1-based file position (SURVEY §7 risk 3)."""
    bounds = df.agg(
        (F.mean(col) + threshold * F.stddev_samp(col)).alias("hi"),
        (F.mean(col) - threshold * F.stddev_samp(col)).alias("lo"),
    )
    return (
        df.select(key, col)
        .join(F.broadcast(bounds))
        .where((F.col(col) >= F.col("hi")) | (F.col(col) <= F.col("lo")))
        .select(key, col)
    )


def _mode_df(df: DataFrame, col: str) -> DataFrame:
    """Deterministic mode: highest count, ties → smallest value (J9/A2)."""
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(col)
        .count()
        .orderBy(F.col("count").desc(), F.col(col).asc())
        .limit(1)
        .select(F.col(col).alias("mode"), F.col("count").alias("freq"))
    )


def profile_integer(df: DataFrame, col: str, exact: bool = True) -> DataFrame:
    """A2 (integer.py:106-125): mode + freq, min, max, int-cast quantiles."""
    stats = df.agg(
        F.min(col).alias("min"),
        F.max(col).alias("max"),
        _quartiles_col(df, col, exact).alias("_q"),
    ).select(
        "min",
        "max",
        F.col("_q")[0].cast("long").alias("q1"),
        F.col("_q")[1].cast("long").alias("median"),
        F.col("_q")[2].cast("long").alias("q3"),
    )
    return _mode_df(df, col).join(F.broadcast(stats)).select(
        "mode", "freq", "min", "max", "q1", "median", "q3"
    )


def profile_date(df: DataFrame, col: str) -> DataFrame:
    """A3 (date.py:70-85): mode + freq, min, max over date values."""
    stats = df.agg(F.min(col).alias("min"), F.max(col).alias("max"))
    return _mode_df(df, col).join(F.broadcast(stats)).select("mode", "freq", "min", "max")


def profile_nominal(df: DataFrame, col: str) -> DataFrame:
    """A4 (nominal.py:15-31): top + freq, sorted category list, category count.
    Categories emitted as a comma-joined string (stable across engines)."""
    cats = df.where(F.col(col).isNotNull()).agg(
        F.array_join(F.array_sort(F.collect_set(col)), ",").alias("categories"),
        F.countDistinct(col).alias("categories_num"),
    )
    return _mode_df(df, col).join(F.broadcast(cats)).select(
        F.col("mode").alias("top"), "freq", "categories", "categories_num"
    )


def profile_text(df: DataFrame, col: str) -> DataFrame:
    """A5 (text.py:62-78): distinct count, top + freq, top-5 / bottom-5 by
    frequency.  Tie-breaks pinned to value order (see module docstring)."""
    counts = df.where(F.col(col).isNotNull()).groupBy(col).count()
    top5 = (
        counts.orderBy(F.col("count").desc(), F.col(col).asc())
        .limit(5)
        .agg(F.array_join(F.collect_list(col), ",").alias("top5"))
    )
    bottom5 = (
        counts.orderBy(F.col("count").asc(), F.col(col).asc())
        .limit(5)
        .agg(F.array_join(F.collect_list(col), ",").alias("bottom5"))
    )
    uniq = df.agg(F.countDistinct(col).alias("unique"))
    return (
        _mode_df(df, col)
        .join(F.broadcast(uniq))
        .join(F.broadcast(top5))
        .join(F.broadcast(bottom5))
        .select("unique", F.col("mode").alias("top"), "freq", "top5", "bottom5")
    )


def rows_per_valid_count(validated_with_flags: DataFrame, col: str = "n_valid") -> DataFrame:
    """A8 (tablereport.py:399-412): invert {row: n_valid_cols} to a histogram
    {n_valid_cols: n_rows} — a plain groupBy, no driver Counters."""
    return validated_with_flags.groupBy(col).agg(F.count(F.lit(1)).alias("n_rows"))


# valid-percentage bands of A9, highest first: (lower bound %, label)
_PCT_BANDS = ((100.0, "100%"), (75.0, "75-99%"), (50.0, "50-74%"), (25.0, "25-49%"))
_LOWEST_BAND = "0-24%"


def valid_pct_band(count: int, total_cols: int) -> str:
    """The A9 band of one row's count — the driver-side twin of
    :func:`quantile_bucket_stats`, for a count histogram already
    collected."""
    pct = count * 100.0 / total_cols
    return next((label for lo, label in _PCT_BANDS if pct >= lo), _LOWEST_BAND)


def quantile_bucket_stats(
    flags: DataFrame, count_col: str, total_cols: int
) -> DataFrame:
    """A9 (tablereport.py:387-440): bucket rows into 0-24 / 25-49 / 50-74 /
    75-99 / 100 % filled-or-valid bands and count rows per band."""
    pct = F.col(count_col) * 100.0 / F.lit(total_cols)
    bucket = F
    for lo, label in _PCT_BANDS:
        bucket = bucket.when(pct >= lo, label)
    return (
        flags.select(bucket.otherwise(_LOWEST_BAND).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def literal_frame(spark, schema: str, rows: list[tuple]) -> DataFrame:
    """A frame of driver-side ``rows`` under the DDL ``schema``, built in
    the JVM from ONE JSON literal: a handful of py4j calls whatever its
    size, exact for every value (doubles travel as their shortest repr),
    and writing it runs no Python worker — unlike a ``createDataFrame``
    list frame, whose write starts one per task."""
    struct = T.StructType.fromDDL(schema)
    data = json.dumps([dict(zip(struct.names, row)) for row in rows], default=str)
    return spark.range(0, 1, 1, 1).select(F.inline(F.from_json(
        F.lit(data), T.ArrayType(struct), {"mode": "FAILFAST"})))


# column layout of each MIPType's profile; ``{t}`` is the type of the
# field's cast column (the type its direct ``profile_<miptype>`` returns)
_PROFILE_SCHEMAS = {
    "numerical": "mean double, std double, min {t}, max {t}, q1 double, "
                 "median double, q3 double, upperbound double, "
                 "lowerbound double, outliers bigint",
    "integer": "mode {t}, freq bigint, min {t}, max {t}, q1 bigint, "
               "median bigint, q3 bigint",
    "date": "mode {t}, freq bigint, min {t}, max {t}",
    "nominal": "top {t}, freq bigint, categories string, categories_num bigint",
    "text": "unique bigint, top {t}, freq bigint, top5 string, bottom5 string",
}


def profile_table(
    df: DataFrame, spec, threshold: float = 3.0, exact: bool = True,
    cache: bool = True,
) -> dict:
    """{field_name: profile DataFrame} for every spec field, profiling only
    the cast-VALID values — exactly the reference's per-column stats flow
    (``controller/columnreport.py:439-464``: validate → cast valid pairs →
    ``profile_<miptype>``), but from ONE validation pass instead of a
    re-scan per column (the reference's O(cols × file) anti-pattern,
    SURVEY §4.1).  Each frame has the rows and columns of the field's
    direct ``profile_<miptype>`` over its cast-valid values.

    The statistics are computed at call time, in two queries whatever the
    number of fields:

    * ONE wide aggregate for every agg-able scalar: numerical mean/std/
      min/max/rounded quartiles/outlier bounds, integer min/max/
      quartiles, date min/max, nominal sorted categories;
    * ONE distribution query: every cast-valid integer/date/nominal/text
      cell is stacked as (field, typed value) — and every numerical cell
      as (field, outside the collected bounds?) — and counted by ONE
      ``groupBy``.  Each field's counts are ranked twice (count desc for
      the mode and top-5, count asc for bottom-5) by one ``row_number``
      over (field, ranking), so Spark keeps at most 5 rows per field and
      ranking in every map task before the ranks are shuffled; the
      distinct counts of nominal/text fields are a ``groupBy(field)``
      count of their (field, value) groups.  Only those rows are
      collected: driver memory is O(fields).  Each stacked value keeps a
      column of its own type, so ties break on the smallest TYPED value
      (9 before 10), like the direct profilers.

    At ``local[2]`` over a one-partition input that is 5 jobs, 7 when a
    nominal or text field is present.  ``write_report`` runs them on its
    own thread while its report-table writes are in flight, then writes
    each profile from its pool.
    ``exact="distributed"`` adds its own per-field rank-selection jobs
    (the 10^12-row-safe quartiles).  Each returned frame is a literal
    frame of at most one row, so collecting or writing it is one job that
    never rescans the source.

    The validated frame is ``ValidationPlan(spec).apply(df)`` with every
    derivation — the same SQL-text plan ``report_tables`` and
    ``write_corrected_csv`` build — so when ``report_tables`` has cached
    it, these scans read that one cached frame.  With ``cache=True``
    (default) this call caches it (a no-op when it already is); the
    CALLER owns the cache lifecycle (``spark.catalog.clearCache()`` at the
    end of the CLI's ``validate``, or unpersist / session teardown — same
    contract as ``dedup.simhash_pairs``).  ``cache=False`` leaves no
    persistent RDD behind.

    Spec fields absent from the table are skipped (no profile entry) —
    same header-intersection tolerance as ``report_tables``; the missing
    set is the report's job to surface, not an AnalysisException here."""
    from dataqualitycontroltool_spark.plans.compiler import ValidationPlan, quote_ident

    present = [f for f in spec.fields if f.name in df.columns]
    validated = ValidationPlan(spec).apply(df)
    if cache:
        validated = validated.cache()
    dtypes = dict(validated.dtypes)
    d = _STAT_DECIMALS

    def cast(f):
        return F.col(quote_ident(f"{f.name}__cast"))

    # ---- one wide aggregate for everything agg-able --------------------
    aggs = []
    for i, f in enumerate(present):
        c = cast(f)
        if f.miptype == "numerical":
            q = _quartiles_col(validated, quote_ident(f"{f.name}__cast"), exact)
            # rounded INSIDE the plan (F.round = HALF_UP on the shortest
            # decimal repr — Python round() is half-even on the binary
            # double and diverges on ~5% of 7-decimal values)
            aggs += [
                F.round(F.mean(c), d).alias(f"{i}_mean"),
                F.round(F.stddev_samp(c), d).alias(f"{i}_std"),
                *[F.round(q[k], d).alias(f"{i}_q{k}") for k in range(3)],
                F.round(F.mean(c) + threshold * F.stddev_samp(c), d).alias(f"{i}_ub"),
                F.round(F.mean(c) - threshold * F.stddev_samp(c), d).alias(f"{i}_lb"),
            ]
        if f.miptype == "integer":
            aggs.append(_quartiles_col(validated, quote_ident(f"{f.name}__cast"), exact)
                        .alias(f"{i}_q"))
        if f.miptype in ("numerical", "integer", "date"):
            aggs += [F.min(c).alias(f"{i}_min"), F.max(c).alias(f"{i}_max")]
        if f.miptype == "nominal":
            aggs.append(
                F.array_join(F.array_sort(F.collect_set(c)), ",").alias(f"{i}_categories")
            )
    stats: dict[int, dict] = {i: {} for i in range(len(present))}
    for key, v in (validated.agg(*aggs).first().asDict() if aggs else {}).items():
        i, name = key.split("_", 1)
        stats[int(i)][name] = v

    # ---- one stacked groupBy: modes, top/bottom-5, distinct and outlier
    # counts -------------------------------------------------------------
    stacked: dict[int, tuple] = {}  # field index -> (stacked value, its type)
    for i, f in enumerate(present):
        ub, lb = stats[i].get("ub"), stats[i].get("lb")
        if f.miptype != "numerical":
            stacked[i] = (cast(f), dtypes[f"{f.name}__cast"])
        elif ub is not None and lb is not None:
            outside = (cast(f) >= F.lit(float(ub))) | (cast(f) <= F.lit(float(lb)))
            stacked[i] = (outside, "boolean")
    top: dict[int, list] = {i: [] for i in stacked}
    bottom: dict[int, list] = {i: [] for i in stacked}
    ndistinct: dict[int, int] = {}
    if stacked:
        slots = sorted({t for _, t in stacked.values()})
        values = [f"v{k}" for k in range(len(slots))]
        cells = F.array_compact(F.array(*[
            F.when(cast(present[i]).isNotNull(), F.struct(
                F.lit(i).alias("fid"),
                *[(v if t == vtype else F.lit(None).cast(t)).alias(f"v{k}")
                  for k, t in enumerate(slots)],
            ))
            for i, (v, vtype) in stacked.items()
        ]))
        counts = (
            validated.select(F.inline(cells))
            .groupBy("fid", *values)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # every count twice: ranking 0 orders by -n (top), ranking 1 by n
        # (bottom); a lone row_number <= 5 per (fid, ranking) is what lets
        # Spark trim the rows before the shuffle (WindowGroupLimit)
        twice = counts.select("fid", "n", *values, F.posexplode(
            F.array(-F.col("n"), F.col("n"))).alias("ranking", "key"))
        by = Window.partitionBy("fid", "ranking").orderBy("key", *values)
        ranked = (
            twice.select("fid", "ranking", "n", *values, F.row_number().over(by).alias("r"))
            .where(F.col("r") <= 5)
        )
        # distinct values of the nominal/text fields: a groupBy(fid) count
        # of their (fid, value) groups.  Over a cached frame Spark does not
        # reuse the counts' shuffle in this second branch, so it stacks
        # only these fields' cells
        counted = [i for i in stacked if present[i].miptype in ("nominal", "text")]
        if counted:
            ranked = ranked.unionByName(
                counts.where(F.col("fid").isin(counted))
                .groupBy("fid").agg(F.count(F.lit(1)).alias("n"))
                .select("fid", F.lit(2).alias("ranking"), "n",
                        *[F.lit(None).cast(t).alias(v) for v, t in zip(values, slots)],
                        F.lit(0).alias("r"))
            )
        for r in ranked.collect():
            if r.ranking == 2:
                ndistinct[r.fid] = r.n
            else:
                v = (r[f"v{slots.index(stacked[r.fid][1])}"], r.n)
                (top if r.ranking == 0 else bottom)[r.fid].append((r.r, v))
        for ranks in (top, bottom):
            for i in ranks:
                ranks[i] = [v for _, v in sorted(ranks[i])]

    # ---- assemble: one row per field (none when a mode-bearing field has
    # no valid value, as the direct profilers' mode join gives) ----------
    def joined(vals):
        return ",".join(str(v) for v, _ in vals)

    out = {}
    for i, f in enumerate(present):
        w = stats[i]
        schema = _PROFILE_SCHEMAS[f.miptype].format(t=dtypes[f"{f.name}__cast"])
        if f.miptype == "numerical":
            outliers = sum(n for flag, n in top.get(i, []) if flag)
            rows = [(w["mean"], w["std"], w["min"], w["max"], w["q0"], w["q1"], w["q2"],
                     w["ub"], w["lb"], outliers)]
        elif not top.get(i):
            rows = []
        else:
            mode, freq = top[i][0]
            if f.miptype == "integer":
                qi = [None if q is None else int(q) for q in (w["q"] or [None] * 3)]
                rows = [(mode, freq, w["min"], w["max"], *qi)]
            elif f.miptype == "date":
                rows = [(mode, freq, w["min"], w["max"])]
            elif f.miptype == "nominal":
                rows = [(mode, freq, w["categories"], ndistinct[i])]
            else:  # text
                rows = [(ndistinct[i], mode, freq, joined(top[i]), joined(bottom[i]))]
        out[f.name] = literal_frame(df.sparkSession, schema, rows)
    return out


def group_mode(df: DataFrame, group_keys: list[str], value_col: str) -> DataFrame:
    """A10/A11 (mrisequence.py:167-183, mristudy.py:25-29): most-frequent value
    per group ("consensus"), ties → smallest value.  Pattern: count per
    (group, value), then rank with a window — two shuffles max, partial
    aggregation map-side; safe for skewed groups because the heavy key is
    already reduced by the first aggregate."""
    counts = df.groupBy(*group_keys, value_col).agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy(*group_keys).orderBy(F.col("_n").desc(), F.col(value_col).asc())
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(*group_keys, F.col(value_col).alias("consensus"), F.col("_n").alias("freq"))
    )


def skew_report(df: DataFrame, key_col: str, top_k: int = 5) -> DataFrame:
    """Shuffle-key skew diagnostic — the question every join/groupBy plan
    at 10^12 rows must answer first: the ``top_k`` hottest keys with their
    row share, plus corpus-wide totals and a ``skew_factor`` (hottest key
    count over the uniform per-key average; 1.0 = perfectly uniform).  A
    skew_factor far above the executor count says the key needs salting
    (``pmod(xxhash64(id), n)``) or AQE skew-join before it is shuffled on.

    Plan: ONE hash-agg on the key (map-side partial: the hot key itself is
    reduced before the exchange, so diagnosing skew never suffers it),
    1-row totals aggregate cross-joined back (the same pattern the numeric
    profiler uses for its bounds), global top-k via TakeOrdered — no full
    sort.  Ties break (count desc, key asc) per the repo contract."""
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("_mx"),
    )
    return (
        counts.join(F.broadcast(totals))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
            "n_rows",
            "n_keys",
            # cast before multiplying: bigint*bigint overflows (ANSI throw)
            # exactly at the 10^12-row scale this diagnostic targets
            F.round(
                F.col("_mx").cast("double") * F.col("n_keys") / F.col("n_rows"), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc_nulls_last())
        .limit(top_k)
    )


def _floored_shares(counts: DataFrame, key: str, name: str) -> DataFrame:
    """(key, _n) counts -> (key, share) with the PSI zero-guard: shares
    round to 9 then floor at 1e-6 so a vanished bucket still has a finite
    log ratio."""
    tot = counts.agg(F.sum("_n").alias("_t"))
    return counts.join(F.broadcast(tot)).select(
        key,
        F.greatest(F.round(F.col("_n") / F.col("_t"), 9), F.lit(1e-6)).alias(name),
    )


def _psi_table(ref_shares: DataFrame, cur_shares: DataFrame, key: str) -> DataFrame:
    """Shared PSI tail for both drift operators: full-outer join on the
    bucket key, 1e-6 floor for absent buckets, per-bucket
    ``(p_cur - p_ref) * ln(p_cur / p_ref)`` terms (round-6), and the total
    cross-joined back so every row carries ``psi_total``."""
    joined = (
        ref_shares.join(cur_shares, key, "full")
        .select(
            key,
            F.coalesce("ref_share", F.lit(1e-6)).alias("ref_share"),
            F.coalesce("cur_share", F.lit(1e-6)).alias("cur_share"),
        )
        .withColumn(
            "psi_term",
            F.round(
                (F.col("cur_share") - F.col("ref_share"))
                * F.log(F.col("cur_share") / F.col("ref_share")),
                6,
            ),
        )
    )
    total = joined.agg(F.round(F.sum("psi_term"), 6).alias("psi_total"))
    return joined.join(F.broadcast(total))


def distribution_drift(
    ref: DataFrame, cur: DataFrame, col: str, buckets: int = 10
) -> DataFrame:
    """Population-stability-index drift between two snapshots of a numeric
    column — the monitoring question the reference's one-shot profiler
    can't answer: has the distribution moved since the reference profile?
    Equal-width buckets over the REFERENCE min/max; values outside the
    range clamp to the edge buckets (clamped BEFORE the int cast — an
    extreme outlier would otherwise overflow under ANSI), so unit/schema
    regressions light up the tails.  A constant reference (hi == lo)
    degenerates to two buckets — equal-to-reference vs not — so drift
    away from a constant still registers instead of reading 0.  NULL and
    NaN values are excluded from BOTH sides (NaN poisons min/max and
    bucket arithmetic; missingness is the filled-rate signal, not the
    shape signal).  Output one row per bucket: ``(bucket, ref_share,
    cur_share, psi_term, psi_total)`` — psi_total repeated per row for
    one-pass thresholding (rule of thumb: < 0.1 stable, > 0.25 drifted).

    Plan: a 1-row min/max aggregate over the reference — resolved EAGERLY
    so an empty / all-NULL / all-NaN reference fails LOUDLY here (ADVICE
    r3: NULL bounds used to put every current row in a NULL bucket and PSI
    silently read as maximal drift against the 1e-6 floor) and the bounds
    fold into both bucket projections as literals (the lazy broadcast
    subplan used to be computed once per side); then one map-side-
    combinable bucket-count aggregate per side, a full outer join on the
    bucket id (10-ish rows), and a 1-row total cross-joined back."""
    usable = F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double"))
    b = ref.where(usable).agg(
        F.min(col).cast("double").alias("_lo"),
        F.max(col).cast("double").alias("_hi"),
    ).first()
    if b._lo is None or b._hi is None:
        raise ValueError(
            f"distribution_drift: reference snapshot has no usable "
            f"(non-NULL, non-NaN) values in column {col!r} — PSI against "
            "an empty reference is meaningless"
        )
    lo, hi = F.lit(float(b._lo)), F.lit(float(b._hi))

    def shares(df: DataFrame, name: str) -> DataFrame:
        w = (hi - lo) / buckets
        idx = F.when(
            hi == lo,
            F.when(F.col(col) == lo, F.lit(0)).otherwise(F.lit(buckets - 1)),
        ).otherwise(
            F.least(
                F.greatest(F.floor((F.col(col) - lo) / w), F.lit(0)),
                F.lit(buckets - 1),
            ).cast("int")
        )
        cnt = (
            df.where(usable)
            .groupBy(idx.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        return _floored_shares(cnt, "bucket", name)

    return _psi_table(shares(ref, "ref_share"), shares(cur, "cur_share"), "bucket")


def category_drift(
    ref: DataFrame, cur: DataFrame, col: str, top_k: int = 20
) -> DataFrame:
    """Categorical PSI — :func:`distribution_drift`'s companion for
    nominal columns: shares per category over the reference's ``top_k``
    most frequent values (ties → value asc, the repo's mode rule), with
    everything else (NULLs, the long tail, and categories NEW in the
    current snapshot — the classic drift smell) folded into the
    ``'<other>'`` bucket.  Same floored-share PSI terms and repeated
    ``psi_total`` as the numeric variant.

    Plan: ONE count aggregate over the reference serves both the
    TakeOrdered top-k (bounded driver state: k strings) and — re-bucketed,
    k+tail rows — the reference shares, so the reference is scanned once;
    the current side is one count aggregate; then the tiny full-outer PSI
    join."""
    ref_counts = (
        ref.groupBy(F.col(col).alias("_c")).agg(F.count(F.lit(1)).alias("_n"))
    )
    top = [
        r._c
        for r in ref_counts.where(F.col("_c").isNotNull())
        .orderBy(F.col("_n").desc(), F.col("_c").asc())
        .limit(top_k)
        .collect()
    ]

    def bucketize(c):
        return F.when(c.isin(top), c.cast("string")).otherwise(F.lit("<other>"))

    refs = _floored_shares(
        ref_counts.groupBy(bucketize(F.col("_c")).alias("category")).agg(
            F.sum("_n").alias("_n")
        ),
        "category",
        "ref_share",
    )
    curs = _floored_shares(
        cur.groupBy(bucketize(F.col(col)).alias("category")).agg(
            F.count(F.lit(1)).alias("_n")
        ),
        "category",
        "cur_share",
    )
    return _psi_table(refs, curs, "category")


def completeness_drift(
    ref: DataFrame, cur: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Filled-rate drift — the monitoring trio's third leg (shape: A14,
    categories: A15, missingness: this): per column, the share of rows
    that are non-NULL and non-blank after trim in each snapshot and the
    delta.  (Deliberately a SUPERSET of the validation plan's default
    missing rule, which matches exact tokens only — whitespace-padded
    blanks count as missing here, since drift monitoring wants the
    pessimistic read.)  A pipeline upstream dropping a field shows up
    here before any value-level check fires.

    Plan: ONE aggregate per side computing every column's filled count in
    the same pass (no per-column scans), unpivoted driver-side from a
    1-row result — O(columns) driver state."""
    if cols is None:
        cur_cols = set(cur.columns)
        cols = [c for c in ref.columns if c in cur_cols]
    cols = list(cols)
    total_alias = "__cd_total__"
    if total_alias in cols:
        raise ValueError(f"column name {total_alias!r} is reserved")

    def filled_row(df: DataFrame):
        aggs = [F.count(F.lit(1)).alias(total_alias)] + [
            F.sum(
                (
                    F.col(c).isNotNull()
                    & (F.trim(F.col(c).cast("string")) != "")
                ).cast("long")
            ).alias(c)
            for c in cols
        ]
        return df.agg(*aggs).first()

    r, c = filled_row(ref), filled_row(cur)
    rows = []
    for name in cols:
        rp = round((r[name] or 0) / max(r[total_alias], 1), 6)
        cp = round((c[name] or 0) / max(c[total_alias], 1), 6)
        rows.append((name, rp, cp, round(cp - rp, 6)))
    return ref.sparkSession.createDataFrame(
        rows, "column string, ref_filled double, cur_filled double, delta double"
    )
