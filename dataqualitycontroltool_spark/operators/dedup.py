"""Document deduplication — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine — as declarative Spark plans.

The reference's only duplicate detection is key-equality
(``controller/tableprofiler.py:173-182`` unique/PK cache,
``controller/tablereport.py:372-384`` longitudinal ``pd.duplicated``).  A
training-data pipeline at 10^12 rows needs *content* dedup; this module adds
the standard family, each designed around Spark's shuffle model:

* **exact** — one hash-aggregate on a content fingerprint (map-side partial
  combine; the fingerprint is computed scan-side so only 16 bytes shuffle,
  never the payload).
* **MinHash + LSH** — per-row signature (no shuffle), band keys, candidate
  generation via a self-equi-join on (band, key) — the join keys are md5
  digests, so they are uniformly distributed and skew-free by construction —
  then exact-Jaccard verification only on the candidate set.
* **SimHash** — per-row 60-bit fingerprint computed entirely inside Catalyst
  lambda expressions (no UDF, no shuffle); near-dup pairs via banded
  equi-join.  With ``bands`` bands of width ``w``, any pair with hamming
  distance < ``bands`` is *guaranteed* caught (pigeonhole), so for
  ``max_hamming <= bands - 1`` the banded plan is exact, not approximate.
* **n-gram Jaccard** — exact all-pairs similarity through a shingle
  equi-join (the classic "small-common-shingles" plan); a frequency cap on
  shingles bounds the quadratic blow-up of stop-shingles at scale.
* **embedding cosine** — brute-force pair scan for the oracle path;
  ``similarity.py`` holds the bucketed/ANN scale path.

Determinism contract (everything must replay identically on Spark and the
DuckDB oracle): all hashes are md5 over explicit utf-8 strings — never
``xxhash64``/``hash``, which are engine-specific.  MinHash "permutations" are
md5 with a salt prefix, compared as *strings* (uniform, total order).  Floats
are rounded to 6 decimals before thresholding/ranking.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, Observation, Window, functions as F

# --------------------------------------------------------------------------
# tokenization / shingling (shared with textstats)
# --------------------------------------------------------------------------


def tokens(text: Column) -> Column:
    """Whitespace tokens of lower-cased, trimmed text (array<string>)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def let(value: Column, body) -> Column:
    """Let-binding for Catalyst expressions: evaluate ``value`` ONCE per row
    and reference it as a lambda variable inside ``body``.

    Without this, Catalyst's CollapseProject inlines a subexpression into
    every reference site; inside higher-order-function lambdas that means
    e.g. a regex ``split`` re-runs for every ``element_at`` — turning an
    O(tokens) shingle build into O(tokens × shingles) (measured 10× slowdown
    at 5k docs).  ``transform`` over a 1-element array is the standard
    let-trick: the argument array is evaluated once, the lambda binds it."""
    return F.transform(F.array(value), body)[0]


def shingles(text: Column, k: int = 3) -> Column:
    """Array of k-token shingles (space-joined).  Empty array when the doc
    has fewer than k tokens — guarded because ``sequence(0, n)`` runs
    *descending* for negative n instead of returning empty."""

    def build(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(t) - k)
        sh = F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(k)])
        )
        return F.when(F.size(t) >= k, sh).otherwise(F.array().cast("array<string>"))

    return let(tokens(text), build)


def shingle_table(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) pairs, distinct per document.  ``array_distinct`` runs
    per row *before* the explode so duplicate shingles never hit the shuffle."""
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias("shingle")
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def content_fingerprint(col: Column) -> Column:
    """md5 of whitespace-normalized, lower-cased content."""
    return F.md5(F.regexp_replace(F.trim(F.lower(col)), r"\s+", " "))


def exact_duplicate_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Groups of rows with byte-identical (normalized) content: fingerprint,
    group size, and the survivor (smallest id — deterministic keep policy).

    One shuffle, on the 32-hex fingerprint (uniform, skew-free); partial
    aggregation means each map task emits at most one row per distinct
    fingerprint.  Scale: at 10^12 rows this is the cheapest possible dedup —
    16 bytes + id per distinct doc across the wire."""
    fp = content_fingerprint(F.col(content_col))
    return (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.min(id_col).alias("survivor_id"))
        .where(F.col("n_rows") > 1)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def _minhash_col(salt: int) -> Column:
    """One MinHash 'permutation': min over shingles of md5('<salt>|'+shingle),
    compared lexicographically (md5 hex is uniform, so string-min is a valid
    minwise hash)."""
    return F.min(F.md5(F.concat(F.lit(f"{salt}|"), F.col("shingle")))).alias(f"mh{salt}")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    k: int = 3,
    with_count: bool = False,
) -> DataFrame:
    """Per-document MinHash signature: (id, mh0..mh{H-1}[, n_sh]).

    Plan: shingle explode → ONE hash-aggregate computing all H minima (and,
    with ``with_count``, the per-doc shingle count — free in the same pass,
    saving the Jaccard verifier a whole extra scan+aggregate) at once
    (partial map-side, so the shuffle carries H×32 bytes per doc, not per
    shingle).  Docs with < k tokens have no shingles and are absent, matching
    the oracle's GROUP BY."""
    sh = shingle_table(df, id_col, text_col, k)
    aggs = [_minhash_col(s) for s in range(num_hashes)]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("n_sh"))
    return sh.groupBy(id_col).agg(*aggs)


def _band_key(band: int, rows_per_band: int) -> Column:
    cols = [F.col(f"mh{band * rows_per_band + r}") for r in range(rows_per_band)]
    return F.md5(F.concat_ws("|", *cols))


def lsh_bands(sig: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """Explode a signature frame into (id, band, band_key) rows."""
    entries = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band_key(b, rows_per_band).alias("band_key"))
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, F.col("e.band").alias("band"), F.col("e.band_key").alias("band_key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    hot_bucket_threshold: int = 8192,
    detect_sample: float = 0.05,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, verified with exact
    Jaccard: (id_a, id_b, jaccard) with jaccard >= threshold.

    Pipeline: signature (1 shuffle) → band explode → self-join on
    (band, band_key) → DISTINCT candidate pairs → exact verification joining
    the shingle table twice, restricted to candidates (plain equi-join on
    the id — NO broadcast hint: on a duplicate-heavy crawl the candidate
    set is O(corpus), which would OOM a forced broadcast; AQE still picks a
    broadcast join at runtime when the set is actually small).  With H=12, b=4, r=3 the
    collision probability at j=0.8 is 1-(1-0.8^3)^4 ≈ 0.93 per pair and the
    final Jaccard filter removes false positives, so precision is exact and
    recall is the LSH guarantee.  Band keys are md5 strings → uniform
    ACROSS distinct shingle sets — but docs SHARING a shingle set (or a
    large templated near-dup cluster agreeing on all r minima) collapse
    onto one band key, and that bucket's O(n²) candidate enumeration would
    serialize into a single shuffle partition (kilobytes of input hiding
    quadratic work — AQE's byte-sized skew split never fires).  Buckets
    over ``hot_bucket_threshold`` entries therefore take the same exact
    salt-grid self-join as the hamming index (`_skew_safe_self_pairs`).

    Eager detection: unless ``hot_bucket_threshold=0``, finding hot buckets
    runs a Spark job (``groupBy`` + ``collect`` over a ``detect_sample``
    sample of the band frame) when this function BUILDS the frame, not
    when the returned frame is consumed."""
    rows_per_band = num_hashes // bands
    # The signature subplan is referenced by both sides of the band self-join
    # (and the shingle table again by the verifier), so Catalyst recomputes
    # the shingle explode per reference.  Measured, recomputation beats a
    # .persist() barrier here for one-shot runs (the persist serializes the
    # pipeline and costs ~2x cold); for REPEATED near-dup queries over the
    # same corpus, materialize `minhash_signatures(..., with_count=True)` to
    # a table once (at 10^12 docs that checkpoint is H×32B+8B per doc,
    # independent of document length) and band/verify against it.
    sig = minhash_signatures(df, id_col, text_col, num_hashes, k)
    bl = lsh_bands(sig, id_col, bands, rows_per_band)
    cand = _skew_safe_self_pairs(
        bl,
        ("band", "band_key"),
        id_col,
        lambda joined: joined.select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        ),
        hot_bucket_threshold=hot_bucket_threshold,
        detect_sample=detect_sample,
    ).distinct()
    sh = shingle_table(df, id_col, text_col, k)
    return _verified_jaccard(sh, id_col, cand, threshold)


def _verified_jaccard(
    sh: DataFrame,
    id_col: str,
    cand: DataFrame,
    threshold: float,
    cnt: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs from a shingle table.
    ``cnt`` (id, n_sh) may be supplied by the caller to avoid an extra
    aggregate over the shingle table."""
    if cnt is None:
        cnt = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        sh.alias("sa")
        .join(cand, F.col(f"sa.{id_col}") == F.col("id_a"))
        .join(
            sh.alias("sb"),
            (F.col(f"sb.{id_col}") == F.col("id_b"))
            & (F.col("sb.shingle") == F.col("sa.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(cnt.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(cnt.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 3,
    max_shingle_freq: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold: (id_a, id_b, jaccard).

    Plan: shingle equi-join — pairs are generated only for docs that *share*
    a shingle, so the complexity is Σ_s df(s)², not n².  Two scale levers:

    * ``prefix_filter`` (PPJoin-style, RESULT-PRESERVING): a pair with
      Jaccard >= t must share a shingle within each doc's first
      ⌊(1-t)·|d|⌋+1 shingles under a global canonical order (ascending
      document frequency — rare shingles first), and must satisfy the
      length bound min(|a|,|b|)/max(|a|,|b|) >= t.  Candidates come from
      joining only the PREFIXES; full verification then computes the exact
      Jaccard.  Turns Σ df² over all shingles into Σ df² over prefix
      occurrences — the standard set-similarity-join optimization when
      stop-shingles dominate.
    * ``max_shingle_freq`` (approximate): drop shingles occurring in more
      than that many docs outright.

    Leave both off for the smallest plan (fine when Σ df² is manageable)."""
    sh = shingle_table(df, id_col, text_col, k)
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(freq_ok, "shingle")
    cnt = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if prefix_filter:
        return _jaccard_prefix_filtered(sh, cnt, id_col, threshold)
    common = (
        sh.alias("sa")
        .join(
            sh.alias("sb"),
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}")),
        )
        .groupBy(
            F.col(f"sa.{id_col}").alias("id_a"), F.col(f"sb.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(cnt.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(cnt.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _jaccard_prefix_filtered(
    sh: DataFrame, cnt: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """PPJoin-lite candidate generation: join only each doc's prefix
    (the ⌊(1-t)·n⌋+1 globally-rarest shingles), apply the length filter,
    verify exactly.

    Exactness: the globally-smallest SHARED shingle s* of a qualifying pair
    is preceded, within each doc's (df, shingle)-sorted list, only by that
    doc's NON-shared shingles (any shared one would be smaller than s*), and
    J >= t bounds non-shared count by (1-t)·|d| — so s* sits inside both
    prefixes.  The pruning threshold is relaxed by the 6-decimal rounding
    slack (the final emit filter accepts round(J,6) >= t, i.e. true J down
    to t - 5e-7; pruning with exact t would drop those boundary pairs —
    caught by an sf0.1 equivalence check)."""
    threshold = threshold - 1e-6  # rounding slack; final filter still exact
    docfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("shingle").asc())
    ranked = (
        sh.join(docfreq, "shingle")
        .withColumn("_rk", F.row_number().over(w))
        .join(cnt, id_col)
        .where(F.col("_rk") <= F.floor((1.0 - threshold) * F.col("n_sh")) + 1)
        .select(id_col, "shingle", "n_sh")
    )
    a, b = ranked.alias("pa"), ranked.alias("pb")
    cand = (
        a.join(
            b,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"))
            # length filter: min/max >= t is necessary for J >= t
            & (F.least(F.col("pa.n_sh"), F.col("pb.n_sh"))
               >= threshold * F.greatest(F.col("pa.n_sh"), F.col("pb.n_sh"))),
        )
        .select(F.col(f"pa.{id_col}").alias("id_a"), F.col(f"pb.{id_col}").alias("id_b"))
        .distinct()
    )
    return _verified_jaccard(sh, id_col, cand, threshold + 1e-6, cnt=cnt)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars × 4 bits — stays positive in a signed int64


def _token_bit_vector(token: Column, token_hash: str) -> Column:
    """±1 contribution vector (length SIMHASH_BITS) of one token.

    ``md5``: bit j = bit (j%4) of hex char j//4 of md5(token) — exactly
    replayable in any SQL engine (the oracle recomputes it char by char; here
    the 15-hex-char prefix is converted ONCE to a long and bits come from
    shifts: bit j of char i maps to bit 4*(14-i)+(j%4) of the big-endian
    value).  ``xxhash64``: bits straight off Spark's native 64-bit hash —
    ~5× cheaper, for production corpora where cross-engine replay of the
    fingerprint itself is not required (pair results are still exact for the
    given hash)."""

    def frombig(big: Column) -> Column:
        out = []
        for j in range(SIMHASH_BITS):
            pos = 4 * (14 - j // 4) + (j % 4) if token_hash == "md5" else j
            out.append((F.shiftright(big, pos).bitwiseAND(F.lit(1)) * 2 - 1).cast("int"))
        return F.array(*out)

    if token_hash == "md5":
        return let(F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long"), frombig)
    return let(F.xxhash64(token), frombig)


# packed-counter accumulation: the 60 source bits split into 10 groups of
# 6; each group's per-bit occurrence counts live in six 10-bit fields of
# one long, so the per-token fold adds 10 longs instead of zip_with-ing a
# 60-element array.  The 6 bits spread into their 10-bit slots with ONE
# carry-free multiply: bit i of g appears in g*_SPREAD_MUL at positions
# i + 9j; for any product position p at most one (i, j) satisfies
# p - 9j ∈ [0, 6) (the window is narrower than the stride), so no two
# copies collide and masking the sampled positions 10i (where j == i)
# extracts bit i exactly.
_PACK_GROUPS = 10
_PACK_FIELD = 10  # counter width → fast path exact up to 1023 tokens
_FAST_MAX_TOKENS = (1 << _PACK_FIELD) - 1
_SPREAD_MUL = sum(1 << (9 * i) for i in range(6))
_SPREAD_MASK = sum(1 << (_PACK_FIELD * i) for i in range(6))


def _token_hash_long(token: Column, token_hash: str) -> Column:
    """The 60-bit (md5) / 64-bit (xxhash64) source value whose bits drive
    the fingerprint — md5 is exactly replayable in any SQL engine."""
    if token_hash == "md5":
        return F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")
    return F.xxhash64(token)


def _src_bit(j: int, token_hash: str) -> int:
    """Source-long bit position feeding output bit j: md5 defines bit j as
    bit (j%4) of hex char j//4, i.e. bit 4*(14 - j//4) + (j%4) of the
    big-endian 15-nibble value; xxhash64 uses bits straight through."""
    return 4 * (14 - j // 4) + (j % 4) if token_hash == "md5" else j


def _simhash_packed(mds: Column, token_hash: str) -> Column:
    """Fast path: fold each token's hash into 10 packed-counter longs
    (counts saturate nowhere — caller guarantees <= _FAST_MAX_TOKENS
    tokens), then majority-vote each bit against the token count."""
    zeros = F.array_repeat(F.lit(0).cast("long"), _PACK_GROUPS)

    def add_token(acc: Column, x: Column) -> Column:
        return let(
            _token_hash_long(x, token_hash),
            lambda h: F.array(*[
                acc[k]
                + (
                    F.shiftright(h, 6 * k).bitwiseAND(F.lit(63)) * F.lit(_SPREAD_MUL)
                ).bitwiseAND(F.lit(_SPREAD_MASK))
                for k in range(_PACK_GROUPS)
            ]),
        )

    packed = F.aggregate(mds, zeros, add_token)
    n = F.size(mds)

    def assemble(a: Column) -> Column:
        out = []
        for j in range(SIMHASH_BITS):
            p = _src_bit(j, token_hash)
            c = F.shiftright(a[p // 6], _PACK_FIELD * (p % 6)).bitwiseAND(
                F.lit(_FAST_MAX_TOKENS)
            )
            # count of 1s c vs count of 0s (n - c): sum > 0 ⇔ 2c > n
            out.append(
                F.when(c * 2 > n, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
            )
        return reduce(add, out)

    return let(packed, assemble)


def _simhash_wide(mds: Column, token_hash: str) -> Column:
    """Fallback for documents beyond the packed-counter capacity: the
    original 60-element ±1 vector fold (no count bound)."""
    zeros = F.array_repeat(F.lit(0), SIMHASH_BITS)
    sums = F.aggregate(
        mds,
        zeros,
        lambda acc, x: F.zip_with(acc, _token_bit_vector(x, token_hash), lambda a, b: a + b),
    )

    def assemble(s: Column) -> Column:
        return reduce(
            add,
            [
                F.when(s[j] > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
                for j in range(SIMHASH_BITS)
            ],
        )

    return let(sums, assemble)


def simhash(text: Column, token_hash: str = "md5") -> Column:
    """60-bit SimHash of whitespace tokens, weighted by occurrence count —
    a pure per-row Catalyst expression (aggregate lambdas): zero shuffle,
    zero Python.  Embarrassingly parallel at any scale.

    Documents up to 1023 tokens (virtually all of them) take the
    packed-counter fast path — 10 long additions per token instead of a
    60-element array zip (measured ~3× cheaper end-to-end); longer ones
    fall back to the wide fold, picked per row by a lazy CASE branch.
    Every expensive subexpression is let-bound ([[let]]): without that,
    CollapseProject would inline the aggregate subtree once per reference
    (measured 10× slower + multi-second Janino compiles)."""

    def build(m: Column) -> Column:
        return F.when(
            F.size(m) <= _FAST_MAX_TOKENS, _simhash_packed(m, token_hash)
        ).otherwise(_simhash_wide(m, token_hash))

    return let(tokens(text), build).alias("simhash")


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, token_hash: str = "md5"
) -> DataFrame:
    return df.select(F.col(id_col), simhash(F.col(text_col), token_hash).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    token_hash: str = "md5",
    cache: bool = True,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming:
    (id_a, id_b, hamming).

    Banded equi-join: the 60-bit fingerprint splits into ``bands`` disjoint
    bit-ranges; a pair with <= bands-1 differing bits must agree exactly on
    at least one band (pigeonhole), so for max_hamming <= bands-1 this plan
    is EXACT while joining on narrow integer keys instead of an O(n²) scan.

    Both join branches reference the (expensive) fingerprint expression and
    Catalyst re-inlines it into each, so without a barrier the fingerprint
    computes TWICE.  Cache lifecycle is the CALLER'S contract (round-1
    review — the persist was never unpersisted):

    * ``cache=True`` (default): persist the tiny (id, long) fingerprint
      table — 2× faster (measured 4.7s vs 9.5s at sf0.1); the caller owns
      the cache (``spark.catalog.clearCache()`` or session teardown).  A
      repartition barrier was measured as a no-cache alternative and did
      NOT get exchange reuse (both branches recomputed).
    * ``cache=False``: no persist, no leftover state — the fingerprint
      scan runs once per branch (pure CPU, embarrassingly parallel).
      Prefer this at 10^12 rows, where pinning H bytes/doc across the
      cluster costs more than recomputing a hash scan, together with the
      ``token_hash='xxhash64'`` fast path."""
    sh = simhash_table(df, id_col, text_col, token_hash)
    if cache:
        sh = sh.persist()
    # with cache=False the simhash expression recomputes per plan branch —
    # sample the hot-bucket detection pass so it costs ~5% of a scan, not a
    # full extra fingerprint computation (cached frames keep exact counts)
    return banded_hamming_pairs(
        sh, id_col, "simhash", max_hamming, bands, SIMHASH_BITS,
        detect_sample=1.0 if cache else 0.05,
    )


def banded_hamming_pairs(
    fp_df: DataFrame,
    id_col: str,
    fp_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 64,
    hot_bucket_threshold: int = 8192,
    detect_sample: float = 1.0,
) -> DataFrame:
    """Pairs of rows whose integer fingerprints differ in <= max_hamming
    bits: (id_a, id_b, hamming) — works for ANY int64 fingerprint column
    (SimHash, image phash, audio chromaprint...).

    Banded equi-join: the fingerprint splits into ``bands`` disjoint
    bit-ranges; a pair with <= bands-1 differing bits must agree on at
    least one band (pigeonhole) → EXACT for max_hamming <= bands-1 with
    narrow integer join keys instead of an O(n²) scan.  Negative int64
    fingerprints are fine: arithmetic shift + mask extracts the same bit
    ranges.

    Hot-bucket salting (r5): a (band, bkey) bucket of n entries makes the
    self-join evaluate n² candidates inside ONE shuffle partition — AQE's
    skew split never fires because the bucket is kilobytes of INPUT (20k
    16-byte rows) hiding 4·10^8 candidates of WORK (measured: 8.3s pinning
    one core of 16 while the rest idle; a 10^6-row hot band at corpus scale
    is hours).  Real phash corpora do this: smooth images share the
    low-frequency DCT signs, saturating one band value (the north-star's
    "salted repartitioning to defuse phash skew").  Buckets with more than
    ``hot_bucket_threshold`` entries therefore take a salt-GRID self-join:
    rows split into S = ceil(n_max/threshold) (≤32) salt groups by
    xxhash64(id); the left side replicates to cells (s_a, j), j<S, the
    right side to cells (i, s_b), i<S, and the equi-join on the full cell
    key lands every ordered pair in EXACTLY ONE of the S² cells — same
    pairs, S× shuffle volume for the hot entries only, work spread over S²
    tasks instead of 1.  Cold buckets keep the plain join; detection is a
    map-side-combined count over the (small) band frame, and the grid leg
    is built only when a hot bucket actually exists (one bounded driver
    action on the aggregated bucket-count frame).  Exactness is pinned by
    a pytest comparing salted vs plain output on a forced-hot corpus.

    Eager detection: unless ``hot_bucket_threshold=0``, that detection job
    (``groupBy`` + ``collect``) runs when this function BUILDS the frame,
    not when the returned frame is consumed."""
    if max_hamming > bands - 1:
        raise ValueError("banded hamming join is only exact for max_hamming <= bands-1")
    width = bits // bands
    mask = (1 << width) - 1
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(fp_col), b * width).bitwiseAND(F.lit(mask)).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    bl = fp_df.select(id_col, fp_col, F.explode(entries).alias("e")).select(
        id_col, fp_col, F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey")
    )

    def pair_select(joined):
        ham = F.bit_count(F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}")))
        return (
            joined.select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                ham.alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
        )

    return _skew_safe_self_pairs(
        bl, ("band", "bkey"), id_col, pair_select, hot_bucket_threshold,
        detect_sample,
    ).distinct()


def _skew_safe_self_pairs(
    bl: DataFrame,
    key_cols: tuple,
    id_col: str,
    pair_select,
    hot_bucket_threshold: int,
    detect_sample: float = 1.0,
) -> DataFrame:
    """Self-join ``bl`` on equal ``key_cols`` with ``a.id < b.id``, routing
    buckets over ``hot_bucket_threshold`` entries through an EXACT salt-grid
    (see banded_hamming_pairs) so their quadratic candidate work spreads
    over s² tasks instead of serializing into the hot key's single shuffle
    partition.  ``pair_select`` maps the aliased (a, b) join to the output
    columns.  Shared by the hamming AND MinHash-LSH band joins — any
    banded self-join has this failure mode (kilobytes of input hiding
    quadratic work, invisible to AQE's byte-sized skew split)."""
    key_cols = list(key_cols)
    bucket_eq = None
    for c in key_cols:
        eq = F.col(f"a.{c}") == F.col(f"b.{c}")
        bucket_eq = eq if bucket_eq is None else (bucket_eq & eq)
    id_lt = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")

    hot_rows = []
    if hot_bucket_threshold:
        if not 0.0 < detect_sample <= 1.0:
            raise ValueError(
                "detect_sample must be in (0, 1]; disable detection with "
                "hot_bucket_threshold=0"
            )
        # the counts aggregate recomputes bl's upstream once more —
        # deliberately NOT localCheckpoint'd: the eager barrier serializes
        # the caller's one-shot pipeline (gotcha: measured +3.3s on the 8k
        # graft) and grows the persistent-RDD set callers with cache=False
        # contracts forbid.  When that upstream is EXPENSIVE (the MinHash
        # signature pipeline — measured +35-90% on the LSH query family at
        # detect_sample=1), detection instead runs on a deterministic
        # id-hash sample of bl: a catastrophically hot bucket (the one that
        # costs hours) is unmissable in a 5% sample, a borderline one
        # (~threshold-sized, single-digit seconds of serialized work) may
        # be missed — the right trade.  The 0.5 safety factor keeps the
        # binomial thinning's lower tail from hiding true-hot buckets; at
        # detect_sample=1 the counts are exact, so the raw threshold
        # applies unmodified.
        probe, rate = bl, 1.0
        if detect_sample < 1.0:
            mod = max(2, int(round(1.0 / detect_sample)))
            rate = 1.0 / mod  # the ACTUAL sample rate, not the requested one
            probe = bl.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)
        counts = probe.groupBy(*key_cols).count()
        cutoff = (hot_bucket_threshold if rate == 1.0
                  else max(1, int(hot_bucket_threshold * rate * 0.5)))
        # bounded driver action: the aggregated frame has one row per hot
        # bucket, and "hot" is by definition rare (a corpus where MANY
        # buckets are hot has degenerate fingerprints, not a skew problem)
        hot_rows = (
            counts.where(F.col("count") > cutoff)
            .orderBy(F.desc("count")).limit(1000).collect()
        )

    if not hot_rows:
        a, b = bl.alias("a"), bl.alias("b")
        return pair_select(a.join(b, bucket_eq & id_lt))

    n_max = int(max(r["count"] for r in hot_rows) / rate)
    # grid size: enough salt groups that (a) each group stays under the
    # threshold and (b) the s² cells exceed ~2× the shuffle parallelism so
    # the quadratic work actually spreads (measured on a 20k-entry hot
    # band, 16 cores: s=3 → 3.2s, s=10 → 2.3s, unsalted 6.3s)
    s = min(32, max(-(-n_max // hot_bucket_threshold), 8))
    # the hot keys are already on the driver (≤1000 rows) — rebuild the
    # broadcast side from them instead of re-executing the counts plan
    # (whose upstream may be the full signature pipeline) a second time.
    # More than 1000 hot buckets means degenerate fingerprints, not skew;
    # the hottest 1000 get the grid, the rest stay on the (still correct)
    # plain path.
    key_schema = counts.select(*key_cols).schema
    hot_keys = F.broadcast(
        bl.sparkSession.createDataFrame(
            [[r[c] for c in key_cols] for r in hot_rows], key_schema
        )
    )
    cold = bl.join(hot_keys, key_cols, "left_anti")
    hot_bl = bl.join(hot_keys, key_cols, "left_semi").withColumn(
        "salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(s))
    )
    # bigint like `salt`: an int cell key would make the join cast it, and
    # the cast key no longer matches the repartition below — Spark then
    # adds a second (AQE-coalescible) exchange on each side
    grid = F.explode(F.array(*[F.lit(j).cast("long") for j in range(s)]))
    left = hot_bl.withColumn("cell_j", grid)   # occupies cells (salt, j)
    right = hot_bl.withColumn("cell_i", grid)  # occupies cells (i, salt)
    # EXPLICIT-N repartition by the cell keys, both sides in join-key order:
    # co-partitioned, so the join adds no exchange of its own — and a
    # user-specified partition count is exempt from AQE partition
    # coalescing, which would otherwise merge the grid right back into one
    # task (cells are KILOBYTES of input hiding quadratic work; AQE sizes
    # by bytes — measured 3.4s coalesced vs 1.6s not, 6.5s unsalted)
    try:
        nparts = int(bl.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # e.g. "auto" on AQE-managed deployments
        nparts = bl.sparkSession.sparkContext.defaultParallelism
    left = left.repartition(nparts, *key_cols, "salt", "cell_j")
    right = right.repartition(nparts, *key_cols, "cell_i", "salt")
    a, b = cold.alias("a"), cold.alias("b")
    cold_pairs = pair_select(a.join(b, bucket_eq & id_lt))
    a, b = left.alias("a"), right.alias("b")
    hot_pairs = pair_select(
        a.join(
            b,
            bucket_eq
            & (F.col("a.salt") == F.col("b.cell_i"))
            & (F.col("a.cell_j") == F.col("b.salt"))
            & id_lt,
        )
    )
    return cold_pairs.unionByName(hot_pairs)


# --------------------------------------------------------------------------
# connected components — transitive duplicate-cluster resolution
# --------------------------------------------------------------------------

# safety cap, not a tuning knob: large-star/small-star converges in
# O(log² n) rounds on any id order (random-order paths of 128 / 4,000 /
# 20,000 nodes take 7 / 11 / 13), so reaching the cap means a bug
_MAX_ROUNDS = 100


def connected_components(
    pairs: DataFrame, a: str = "id_a", b: str = "id_b"
) -> DataFrame:
    """(id, comp) for every node in the pair graph; comp = the least id in
    the node's component (the canonical survivor).  Any orderable id type
    works (string ids: the lexicographic least).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): O(log² n) rounds
    whatever order the ids fall in along a chain.  Edges are kept as
    (hi, lo) with hi > lo (plus the centre loops below), and each round is
    ONE ``localCheckpoint``:

    * large-star — over the symmetrised edges, m(u) = least(u, min
      neighbour); every neighbour v > u is re-pointed to m(u);
    * small-star — per hi, m = min(lo); hi and each of its lo's are
      re-pointed to m.

    Both steps are windows, not joins.  ``localCheckpoint`` carries the
    origin plan's Catalyst stats into its leaf; a join in the carried plan
    would multiply them every round (a few joins per round triple the
    ``sizeInBytes`` bit length until one stats product pins the driver for
    minutes), while a window only scales them by a row-size ratio.  The
    carried figure grows by about a bit per round, so no spill is needed to
    reset it.

    Convergence is observed on the round's own checkpoint job: ``moved``
    counts large-star edges whose u has a smaller neighbour, ``multi``
    counts small-star edges whose lo is not the least lo of their hi.  Both
    are 0 exactly when every component is a star centred on its least id.

    Small-star also emits a loop (m, m) for each centre m, so the converged
    frame holds exactly one row per node — (leaf, centre) or (centre,
    centre) — and is the result as it stands.  A self-pair (x, x) in the
    input is such a loop: x comes out as its own component."""
    hi, lo, u, v, m = (F.col(c) for c in ("hi", "lo", "u", "v", "m"))

    def emit(df: DataFrame, *rows: tuple) -> DataFrame:
        """(hi, lo) rows, several per input row: one explode, one scan"""
        structs = [F.struct(x.alias("hi"), y.alias("lo")) for x, y in rows]
        return df.select(F.explode(F.array(*structs)).alias("e")).select("e.*")

    edges = pairs.select(F.greatest(a, b).alias("hi"), F.least(a, b).alias("lo"))
    for _ in range(_MAX_ROUNDS):
        moved, multi = Observation(), Observation()
        large = (
            emit(edges, (hi, lo), (lo, hi)).toDF("u", "v")
            .withColumn("m", F.least(u, F.min(v).over(Window.partitionBy(u))))
            .observe(moved, F.count(F.when((v > u) & (m < u), 1)).alias("n"))
            # a loop survives only on a node with no smaller neighbour
            .where((v > u) | ((v == u) & (m == u)))
            .select(v.alias("hi"), m.alias("lo"))
        )
        small = large.withColumn("m", F.min(lo).over(Window.partitionBy(hi))).observe(
            multi, F.count(F.when((lo < hi) & (lo > m), 1)).alias("n")
        )
        edges = emit(small, (lo, m), (hi, m)).distinct().localCheckpoint()
        # an empty graph: AQE prunes the whole plan, observing nodes
        # included, to an empty relation (no partitions) before any runs
        empty = edges.rdd.getNumPartitions() == 0
        if empty or (moved.get["n"] == 0 and multi.get["n"] == 0):
            return edges.toDF("id", "comp")
    raise RuntimeError(
        f"connected_components did not converge in {_MAX_ROUNDS} rounds"
    )


def duplicate_clusters(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8, **lsh_kwargs
) -> DataFrame:
    """Transitive near-duplicate clusters from MinHash-LSH pairs:
    (id, component, is_survivor) — survivor = smallest id per component.
    Fixes the greedy pairwise rule's chain blindness (a~b, b~c keeps a and
    drops b,c even when a~c was never a candidate pair)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold, **lsh_kwargs)
    comps = connected_components(pairs)
    return comps.select(
        F.col("id").alias(id_col),
        "comp",
        (F.col("id") == F.col("comp")).alias("is_survivor"),
    )


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------


def _norm_frame(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v:double[], norm) — cast once, norm once, before any join."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(F.col(id_col), v.alias("v")).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_partitions: int | None = None,
) -> DataFrame:
    """All pairs with cosine similarity >= threshold: (id_a, id_b, cos).

    Brute-force O(n²) pair scan — the *exactness oracle*.  At 10^12 rows
    prefilter with the IVF cluster assignment of ``similarity.ivf_topk``
    (``similarity.cluster_assign``), then verify with this same cosine
    expression.

    Plan shape: the b-side is broadcast and the a-side explicitly
    repartitioned to ``n_partitions`` (default: the cluster's
    defaultParallelism) — a `<` join is a nested-loop join, and with a
    single-file parquet input the stream side would otherwise be ONE
    partition doing all n²/2 dot products serially.  Norms are precomputed
    per side so the join evaluates only the dot product."""
    e = _norm_frame(df, id_col, vec_col)
    n_parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    a = e.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    ).repartition(n_parts)
    b = e.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    cos = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------


def decontamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    k: int = 8,
    min_overlap: int = 1,
    bloom_fpp: float | None = None,
    bloom_expected_items: int = 1_000_000,
) -> DataFrame:
    """Benchmark decontamination — the standard LLM-pipeline check that no
    training document shares long n-grams with an evaluation set: per
    corpus doc, the number of distinct k-token shingles also present in
    ANY benchmark document, and a ``contaminated`` flag at
    ``>= min_overlap`` shared shingles.  Output (id, n_overlap,
    contaminated) — one row per corpus doc (0/false when clean).

    Plan: both sides reduce to DISTINCT shingle sets per doc scan-side
    (array_distinct before the explode), the benchmark side collapses to
    the distinct shingle VOCABULARY (one hash-agg — the eval set is small
    relative to the corpus, but no broadcast hint: AQE decides, and a
    shuffle join on the uniform shingle text stays correct when someone
    decontaminates against a huge held-out split), then one equi-join +
    per-doc count.  Nothing is O(corpus × benchmark); the join fan-out is
    Σ over shared shingles of df_corpus(s) — the same Σdf² shape as the
    n-gram Jaccard plan, bounded by the benchmark vocabulary.

    ``bloom_fpp`` (e.g. 0.01) adds a RESULT-PRESERVING map-side pre-filter
    for the 100TB path: a single-hash bloom bitmap of the benchmark's
    shingle hashes (built driver-side — an eval-set vocabulary fits the
    driver by definition; sized at ~expected_items/fpp bits, so 0.01 fpp
    over 1M shingles is a ~12MB broadcast) is cross-joined as one
    array<long> row, and corpus shingles are bit-tested with pure Catalyst
    expressions BEFORE the shuffle — only (true + fpp·false) positives
    cross the wire instead of every corpus shingle; the exact equi-join
    then removes the false positives.  Spark's own runtime bloom-filter
    injection covers the same idea but fires only on its size/stat
    heuristics (verified NOT to inject on this plan), and its
    ``bloom_filter_agg`` expression is not registered for SQL use — the
    explicit bitmap makes the pruning deterministic."""
    bench_col = bench_text_col or text_col
    bench_shingles = _shingle_vocab(benchmark, bench_col, k)
    corpus_shingles = shingle_table(corpus, id_col, text_col, k)
    if bloom_fpp is not None:
        m_bits = max(64, int(bloom_expected_items / bloom_fpp))
        words = [0] * ((m_bits + 63) // 64)
        for r in (bench_shingles
                  .select(F.pmod(F.xxhash64("shingle"), F.lit(m_bits)).alias("h"))
                  .distinct().collect()):
            h = int(r.h)
            words[h >> 6] |= 1 << (h & 63)
        words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]  # int64
        bm = corpus.sparkSession.createDataFrame([(words,)], "_bm array<long>")
        corpus_shingles = (
            corpus_shingles.join(F.broadcast(bm))
            .withColumn("_h", F.pmod(F.xxhash64("shingle"), F.lit(m_bits)))
            .where(F.expr(
                "(shiftright(element_at(_bm, CAST(_h / 64 AS INT) + 1),"
                " CAST(_h % 64 AS INT)) & 1) = 1"
            ))
            .drop("_bm", "_h")
        )
    hits = (
        corpus_shingles
        .join(bench_shingles, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        corpus.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# repeated-span detection (exact-substring dedup, Lee et al. 2022)
# --------------------------------------------------------------------------


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
    gram_key: str = "string",
    cache: bool = False,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Maximal contiguous token regions covered by k-grams that each appear
    verbatim in >= ``min_docs`` distinct documents — the union-coverage
    semantics of suffix-array exact-substring dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022): every
    repeated substring of >= k tokens is a run of shared k-grams, and hit
    positions whose k-token windows overlap or touch (gap <= k) merge into
    one maximal region.  Note a merged region may interleave runs shared
    with DIFFERENT partner docs — correct for coverage/removal, so
    ``span_tokens`` counts each covered token exactly once even when the
    underlying shared runs overlap.  Output one row per (doc, span):
    ``(id, span_start, span_end, span_tokens)`` — 0-based inclusive token
    offsets.

    The reference tool has no corpus-level text operator (it validates
    cell values row-at-a-time, mipqctool/model/qcfrictionless); this is
    LLM-pipeline coverage on the same engine.

    Plan (3 keyed shuffles, all partial-aggregated map-side):
      1. positional k-grams via one scan — ``posexplode`` over the shared
         :func:`shingles` builder (let-bound: no re-tokenization per gram);
         ``cache=True`` persists the slim (id, pos, gram-key) frame because
         it feeds BOTH the vocabulary aggregate and the hits join — under
         the typical AQE-broadcast vocab there is no exchange to reuse and
         the explode would otherwise run twice.  The internally-built
         persist has no caller handle (released at session teardown /
         ``clearCache``); when you need an owned lifecycle — or several
         span signals off one explode — build ``positional_grams``
         yourself, persist it, pass it as ``grams=`` and unpersist when
         done (the preferred seam since r4);
      2. shared-gram vocabulary: hash-agg on the gram key with a distinct
         doc count (two-phase, map-side partial);
      3. semi-join grams -> shared vocabulary on the gram key (AQE picks
         broadcast when the shared vocab is small — typical, since most
         grams are unique); then one exchange on ``id`` for the
         lag + running-sum island windows (one sort, same spec), whose
         partitioning the islands group-by REUSES (ClusteredDistribution
         on (id, grp) is satisfied by hash(id) — no 4th exchange).

    Nothing is O(n^2): gram volume is ~1 row per corpus token and the join
    fan-out is bounded by sum over shared grams of their doc frequency —
    the contaminated mass itself.  ``gram_key='string'`` joins on the raw
    gram text (exact, DuckDB-replayable); ``'md5'`` shrinks the shuffle to
    16 bytes/gram (still effectively exact at 10^12 grams);
    ``'xxhash64'`` halves that again but admits ~n^2/2^65 false shared
    grams — fine for a lossy pre-filter, not for the exact contract.

    ``grams`` — a precomputed :func:`positional_grams` frame (id, pos, _g;
    same ``k``/``gram_key``) — skips the corpus explode entirely, so one
    (typically persisted) gram frame can feed BOTH this operator and
    span-level decontamination in the same curation session instead of
    re-exploding the corpus per signal; with ``grams`` given, ``cache`` is
    ignored (the caller owns the injected frame's lifecycle)."""
    if grams is None:
        grams = positional_grams(df, id_col, text_col, k, gram_key)
        if cache:
            grams = grams.persist()
    shared = (
        grams.groupBy("_g")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_g")
    )
    hits = grams.join(shared, "_g").select(id_col, "pos")
    return _merge_islands(hits, id_col, k)


def _shingle_vocab(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """Distinct k-token shingle VOCABULARY of a corpus — one ``shingle``
    column; shared by doc-level (decontamination_flags) and span-level
    (contaminated_spans) decontamination so their gram semantics cannot
    drift apart."""
    return (
        df.select(
            F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias(
                "shingle"
            )
        ).distinct()
    )


def positional_grams(
    df: DataFrame, id_col: str, text_col: str, k: int, gram_key: str = "string"
) -> DataFrame:
    """(id, pos, _g) — one row per k-gram with its 0-based token start;
    the shared front end of every span operator.  ``gram_key`` picks the
    join key representation (raw string / md5 / xxhash64).

    Public so a curation session wanting SEVERAL span signals (repeated
    spans AND span decontamination) builds this frame once — persist it,
    pass it as the ``grams=`` argument of each operator, unpersist when
    done — instead of re-exploding the corpus per signal (the explode is
    one row per corpus token: the dominant scan at 10^12 tokens)."""
    if gram_key not in ("string", "md5", "xxhash64"):
        raise ValueError(f"unknown gram_key {gram_key!r}")
    key = {
        "string": lambda c: c,
        "md5": F.md5,
        "xxhash64": F.xxhash64,
    }[gram_key]
    return df.select(
        F.col(id_col), F.posexplode(shingles(F.col(text_col), k))
    ).select(id_col, F.col("pos"), key(F.col("col")).alias("_g"))


def _merge_islands(hits: DataFrame, id_col: str, k: int) -> DataFrame:
    """(id, pos) k-gram hit positions -> maximal covered spans: hits whose
    k-token windows overlap or touch (gap <= k) merge; lag + running-sum
    share one window sort, and the islands group-by reuses the hash(id)
    exchange."""
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    grp = F.sum("_brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hits.withColumn("_brk", brk)
        .withColumn("_grp", grp)
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("span_tokens"),
        )
        .drop("_grp")
    )


def repeated_span_summary(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
    gram_key: str = "string",
    cache: bool = False,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document rollup of :func:`repeated_ngram_spans` — the filter
    signal a curation pass thresholds on: ``(id, n_spans,
    repeated_tokens, repeated_frac)`` for EVERY input document (zeros when
    clean).  ``repeated_frac`` is repeated tokens over the doc's
    whitespace-token count, rounded to 6 places for cross-engine replay;
    spans never overlap, so it is true coverage and never exceeds 1."""
    spans = repeated_ngram_spans(
        df, id_col, text_col, k, min_docs, gram_key, cache, grams=grams
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("repeated_tokens"),
    )
    totals = df.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).alias("_n_toks")
    )
    return totals.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("repeated_tokens", F.lit(0)).alias("repeated_tokens"),
        F.round(
            F.coalesce("repeated_tokens", F.lit(0))
            / F.greatest("_n_toks", F.lit(1)),
            6,
        ).alias("repeated_frac"),
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
    gram_key: str = "string",
    cache: bool = False,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Cut every repeated span (:func:`repeated_ngram_spans`) out of every
    document — the removal step of Lee et al. 2022's exact-substring
    dedup.  Returns ``(id, text_clean, n_tokens, n_removed)`` with the
    surviving tokens rejoined in order, ORIGINAL case preserved (spans are
    detected on lower-cased tokens, but position i maps 1:1 onto the same
    whitespace split of the raw text).  Spans never overlap, so
    ``n_removed`` is exact coverage and never exceeds ``n_tokens``.

    Beyond the detection plan this adds ONE aggregation shuffle
    (spans rolled up to a per-doc array — bounded by doc length, the same
    per-row state class as the line-dedup reassembly) + a broadcast-or-
    shuffle left join back, then a pure projection: each token index is
    kept unless some span covers it (``exists`` over the span array,
    JVM-side, O(tokens x spans/doc) per row with no further shuffle)."""
    spans = repeated_ngram_spans(
        df, id_col, text_col, k, min_docs, gram_key, cache, grams=grams
    )
    return _cut_spans(df, spans, id_col, text_col)


def _cut_spans(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Excise ``spans`` (id, span_start, span_end token offsets) from the
    raw whitespace split of ``df[text_col]`` — the shared removal tail for
    repeated-span and contaminated-span dedup."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )

    def clean(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(t) - 1)
        kept = F.filter(
            idx,
            lambda i: ~F.exists(
                F.col("_spans"),
                lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
            ),
        )
        return F.transform(kept, lambda i: F.element_at(t, i + 1))

    raw_toks = F.split(F.trim(F.col(text_col)), r"\s+")
    out = df.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("_spans", F.array().cast(
            "array<struct<span_start:int,span_end:int>>")).alias("_spans"),
        raw_toks.alias("_t"),
        F.when(F.trim(F.col(text_col)) == "", F.lit(0))
        .otherwise(F.size(raw_toks)).cast("bigint").alias("n_tokens"),
    )
    return out.select(
        id_col,
        F.when(
            F.col("n_tokens") == 0, F.lit("")
        ).otherwise(F.concat_ws(" ", let(F.col("_t"), clean))).alias("text_clean"),
        "n_tokens",
        F.coalesce(
            F.aggregate(
                "_spans",
                F.lit(0),
                lambda a, s: a + (s["span_end"] - s["span_start"] + 1),
            ),
            F.lit(0),
        ).cast("bigint").alias("n_removed"),
    )


def contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    k: int = 8,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Span-LEVEL decontamination (GPT-3/Pile appendix style): the maximal
    corpus-token regions covered by k-grams that appear anywhere in the
    evaluation set — :func:`decontamination_flags` answers IS this doc
    contaminated; this answers WHERE, so :func:`remove_contaminated_spans`
    can surgically cut the overlap instead of dropping the document.

    Plan: corpus positional k-grams (one scan) semi-join the benchmark's
    distinct shingle vocabulary (the eval set is small; AQE broadcasts it),
    then the shared lag/running-sum island merge.  Fan-out is bounded by
    the benchmark vocabulary — identical scale shape to
    decontamination_flags.

    ``grams`` — a precomputed :func:`positional_grams` frame over the
    corpus (same ``k``, ``gram_key='string'``) — lets one corpus explode
    feed both this and :func:`repeated_ngram_spans` in the same session."""
    bench_col = bench_text_col or text_col
    vocab = _shingle_vocab(benchmark, bench_col, k).withColumnRenamed(
        "shingle", "_g"
    )
    if grams is None:
        grams = positional_grams(corpus, id_col, text_col, k)
    hits = grams.join(vocab, "_g").select(id_col, "pos")
    return _merge_islands(hits, id_col, k)


def remove_contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    k: int = 8,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Cut every eval-set-contaminated span (:func:`contaminated_spans`)
    out of every corpus document, original case preserved — returns
    ``(id, text_clean, n_tokens, n_removed)`` like
    :func:`remove_repeated_spans`."""
    spans = contaminated_spans(
        corpus, benchmark, id_col, text_col, bench_text_col, k, grams=grams
    )
    return _cut_spans(corpus, spans, id_col, text_col)


def cross_group_overlap(
    df: DataFrame,
    text_col: str,
    group_col: str,
    k: int = 8,
) -> DataFrame:
    """Corpus-audit overlap matrix (the WIMBD-style 'how much do my
    sources share' question): for every pair of groups (sources, domains,
    shards) the number of DISTINCT k-token grams that appear verbatim in
    both — the cross-source contamination mass that drives dedup policy.
    Output ``(group_a, group_b, n_shared_grams)``, ``group_a < group_b``.

    Plan: one scan explodes k-grams (the shared :func:`shingles` builder,
    deduped per row before the explode), reduced immediately to the
    distinct (group, gram) vocabulary (hash-agg, map-side partial: a gram
    repeated across a group's million docs crosses the wire once); then a
    self equi-join on the gram and one pair-count aggregate.  Join fan-out
    is sum over grams of (groups containing it choose 2) — bounded by the
    group count, not the corpus; grams unique to one group (the vast
    majority) produce nothing."""
    vocab = (
        df.select(
            F.col(group_col).alias("_grp"),
            F.explode(
                F.array_distinct(shingles(F.col(text_col), k))
            ).alias("_g"),
        )
        .distinct()
    )
    a, b = vocab.alias("a"), vocab.alias("b")
    return (
        a.join(
            b,
            (F.col("a._g") == F.col("b._g")) & (F.col("a._grp") < F.col("b._grp")),
        )
        .groupBy(
            F.col("a._grp").alias("group_a"), F.col("b._grp").alias("group_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
