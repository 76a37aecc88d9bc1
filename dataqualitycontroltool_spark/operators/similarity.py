"""Approximate-nearest-neighbor search over an embedding column
(``array<float>``) — brute-force cosine top-k as the exactness baseline, IVF
(inverted file over k-means centroids) as the sublinear scale path.

The reference has no vector search; its closest analogue is the CDE
nearest-neighbor match (``model/qcfrictionless/cde.py:43-69``: rank every
candidate by a similarity score, take the best) — the same
score-rank-window shape, lifted to dense vectors.

Design for 10^12 rows:
* the query side is always the SMALL side → ``F.broadcast`` it; the corpus
  is never shuffled for brute force (map-side broadcast-nested-loop, then a
  per-query top-k via window over (corpus-partition-local) candidates —
  Spark's TakeOrderedAndProject keeps only k rows per partition in flight).
* IVF replaces the cross join with an equi-join on the nearest-centroid id:
  cluster assignment is one Arrow-batched BLAS argmax per batch
  (:func:`cluster_assign`, shared with :func:`semantic_dedup`), and each
  query ranks only the lists of its ``nprobe`` nearest centroids.
* all ranking is on ``round(cos, 6)`` with id ascending as tie-break, so
  results replay identically on any engine (DuckDB oracle included).

Cosine math is double-precision end-to-end (float32 inputs are cast once
before any join) inside Catalyst lambda expressions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from dataqualitycontroltool_spark.operators.dedup import dot, let


def _prepared(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(F.col(id_col), v.alias("v")).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    )


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: for each query id, the k nearest OTHER vectors.
    Output (query_id, neighbor_id, cos, rank), rank 1..k.

    The query set is broadcast (it is by definition small); the corpus scan
    stays pipelined — no shuffle until the final per-query window, which
    carries only the candidate rows."""
    e = _prepared(df, id_col, vec_col)
    q = e.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    c = e.select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), F.col("norm").alias("cn")
    )
    cos = F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


_PACKED_SCHEMA = "blk long, ids array<long>, mat array<double>, norms array<double>"


def _pack_blocks(df: DataFrame, id_col: str, vec_col: str, n_blocks: int) -> DataFrame:
    """Pack vectors into ``n_blocks`` dense blocks: one row per block with the
    id list, the row-major flattened matrix, and precomputed norms.  This is
    the fan-in half of blocked matrix multiplication: a groupBy shuffle
    carrying each vector exactly once."""

    dtype = dict(df.dtypes)[id_col]
    if dtype not in ("tinyint", "smallint", "int", "bigint", "long"):
        raise TypeError(
            f"blocked cosine needs an integral id column (got {id_col}: {dtype}); "
            "hash string ids to int64 first (e.g. xxhash64) and keep a mapping, "
            "or use brute_force_topk which accepts any id type"
        )

    def pack(pdf):
        import numpy as np

        M = np.stack(pdf["_v"].map(np.asarray).to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {
                "blk": [int(pdf["_blk"].iloc[0])],
                "ids": [pdf["_id"].to_numpy().tolist()],
                "mat": [M.ravel().tolist()],
                "norms": [np.sqrt((M * M).sum(axis=1)).tolist()],
            }
        )

    prepared = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.pmod(F.col(id_col).cast("long"), F.lit(n_blocks)).alias("_blk"),
    )
    return prepared.groupBy("_blk").applyInPandas(pack, _PACKED_SCHEMA)


def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_blocks: int = 16,
) -> DataFrame:
    """All pairs with cosine >= threshold via BLOCKED MATRIX MULTIPLY:
    (id_a, id_b, cos) — same results as ``dedup.embedding_cosine_pairs``,
    ~10× faster, because the n²·d dot products run as numpy/BLAS matmuls
    over Arrow batches instead of per-pair Catalyst lambdas.

    Plan: pack vectors into B blocks (one shuffle) → self-join block pairs
    (blk_a <= blk_b: B(B+1)/2 rows, each carrying two dense blocks) →
    ``mapInPandas`` computes A·Bᵀ per block pair and emits only the pairs
    over threshold.  Same-block pairs are deduped by id order; cross-block
    pairs are emitted as (min_id, max_id) — cosine is symmetric.  Scale
    note: work is O(n²d / B²) per task with B² tasks — tune ``n_blocks`` so
    a block (~n/B vectors) fits executor memory; brute force is for corpus
    slices / verification, the sublinear path is ``ivf_topk``."""

    def gen(it):
        import numpy as np

        for pdf in it:
            out_a, out_b, out_c = [], [], []
            for r in pdf.itertuples(index=False):
                ia = np.asarray(r.ids_a, dtype=np.int64)
                ib = np.asarray(r.ids_b, dtype=np.int64)
                A = np.asarray(r.mat_a, dtype=np.float64).reshape(len(ia), -1)
                B = np.asarray(r.mat_b, dtype=np.float64).reshape(len(ib), -1)
                cos = (A @ B.T) / np.outer(np.asarray(r.norms_a), np.asarray(r.norms_b))
                cos = np.round(cos, 6)
                if r.blk_a == r.blk_b:
                    mask = (cos >= threshold) & (ia[:, None] < ib[None, :])
                else:
                    mask = cos >= threshold
                ai, bi = np.nonzero(mask)
                lo = np.minimum(ia[ai], ib[bi])
                hi = np.maximum(ia[ai], ib[bi])
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cos[ai, bi])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos": np.concatenate(out_c),
                    }
                )

    p = _pack_blocks(df, id_col, vec_col, n_blocks)
    a = p.select(*[F.col(c).alias(f"{c}_a") for c in p.columns])
    b = p.select(*[F.col(c).alias(f"{c}_b") for c in p.columns])
    pairs = a.join(F.broadcast(b), F.col("blk_a") <= F.col("blk_b"))
    return pairs.mapInPandas(gen, "id_a long, id_b long, cos double")


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: (id, scale, qvec).

    At 10^12 vectors the embedding column dominates storage (64 float32 =
    256B/row); int8 + one float scale is 68B — a 3.7× cut with bounded
    error (|x - deq(x)| <= scale/2, scale = max|x|/127).  Pure Catalyst
    expressions (let-bound scale), columnar end to end."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def build(vv: Column) -> Column:
        scale = F.array_max(F.transform(vv, F.abs)) / F.lit(127.0)
        return F.struct(
            scale.alias("scale"),
            F.transform(vv, lambda x: F.round(x / scale).cast("tinyint")).alias("qvec"),
        )

    q = let(v, build)
    return df.select(F.col(id_col), q.alias("_q")).select(
        id_col, F.col("_q.scale").alias("scale"), F.col("_q.qvec").alias("qvec")
    )


def dequantize_int8(df: DataFrame, id_col: str) -> DataFrame:
    """Inverse of :func:`quantize_int8`: (id, vec:array<double>)."""
    return df.select(
        F.col(id_col),
        F.transform("qvec", lambda x: x.cast("double") * F.col("scale")).alias("vec"),
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    k: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str | None = None,
) -> "np.ndarray":
    """Seeded spherical k-means on a bounded driver-side sample — the IVF
    coarse quantizer.  The sample is the ``sample`` lowest ids (deterministic,
    not rand()); at 10^12 rows a bounded sample is exactly how IVF training
    works in practice (the quantizer sees a few thousand vectors).

    ``k`` is clamped to the sample size, so a corpus smaller than ``k``
    yields one centroid per vector; an empty corpus raises ``ValueError``."""
    import numpy as np

    q = df.select(vec_col) if id_col is None else df.orderBy(id_col).select(vec_col)
    rows = q.limit(sample).collect()
    if not rows:
        raise ValueError(f"kmeans_centroids: no vectors in column {vec_col!r} to train on")
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    X = X / np.linalg.norm(X, axis=1, keepdims=True).clip(min=1e-12)
    k = min(k, len(X))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                C[j] = m / max(np.linalg.norm(m), 1e-12)
    return C


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are assigned to their nearest
    centroid (inverted lists = Spark partitions keyed by cluster); each query
    probes its ``nprobe`` nearest centroids and ranks only those lists.

    Full probe (nprobe = n_centroids) degenerates to EXACT brute force —
    the correctness property the tests pin.  Assignment runs in a pandas UDF
    with the (tiny) centroid matrix in the closure: one argmax matmul per
    Arrow batch, numpy/BLAS speed, and the corpus join is a plain equi-join
    on the cluster id (hash-partitioned, no skew for balanced quantizers)."""
    import numpy as np

    C = centroids if centroids is not None else kmeans_centroids(
        df, vec_col, k=n_centroids, id_col=id_col
    )
    Cn = np.asarray(C, dtype=np.float64)
    e = cluster_assign(_prepared(df, id_col, vec_col), Cn)
    qv = {r[0]: np.asarray(r[1], dtype=np.float64)
          for r in df.where(F.col(id_col).isin(query_ids)).select(id_col, vec_col).collect()}
    probe_rows = []
    for qid, v in qv.items():
        vn = v / max(np.linalg.norm(v), 1e-12)
        # stable sort: probe-order ties break by LOWEST centroid index, the
        # same order the SQL oracle pins with `cid ASC`
        for c in np.argsort(-(Cn @ vn), kind="stable")[:nprobe]:
            probe_rows.append((qid, int(c)))
    probes = df.sparkSession.createDataFrame(probe_rows, f"{id_col} long, cluster int")

    q = e.join(F.broadcast(probes.select(id_col).distinct()), id_col).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    cand = e.join(
        F.broadcast(probes.withColumnRenamed(id_col, "query_id")), "cluster"
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    cos = F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cluster_assign(prepared: DataFrame, Cn: "np.ndarray") -> DataFrame:
    """Nearest-centroid assignment for a ``_prepared`` frame: adds an int
    ``cluster`` column.  Arrow-batched pandas UDF with the (tiny) centroid
    matrix in the closure — one argmax matmul per batch, numpy/BLAS speed;
    argmax ties break to the LOWEST centroid index (numpy first-max), the
    order the SQL oracles pin with ``cid ASC``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.IntegerType())
    def assign_udf(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.map(np.asarray).to_numpy()).astype(np.float64)
        M = M / np.linalg.norm(M, axis=1, keepdims=True).clip(min=1e-12)
        return pd.Series((M @ Cn.T).argmax(axis=1).astype(np.int32))

    return prepared.withColumn("cluster", assign_udf(F.col("v")))


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "np.ndarray",
    threshold: float = 0.9,
    cache: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster-then-prune, a
    standard published recipe for web-scale training corpora): assign every
    embedding to its nearest centroid, compare pairs ONLY within a cluster,
    and drop the larger id of any pair with cosine >= threshold.  Output
    (id, cluster, keep).

    Scale shape: the pairwise work is confined to clusters — O(Σ (n_k)²)
    instead of O(n²), with k chosen so n/k fits a task; the within-cluster
    self-join is an equi-join on the int cluster id (hash-partitioned,
    balanced for a balanced quantizer — re-split oversized clusters by
    recursing on their members at production scale).  Cosine math and
    keep-smallest tie-breaks replay exactly in the SQL oracle when the
    centroids are fixed (see __spark_entry__ `dedup_semantic`).

    The assignment frame is referenced THREE times (both self-join sides +
    the final projection); ``cache=True`` persists it so the pandas-UDF
    argmax — the dominant per-row cost — runs once, with the same
    caller-owned cache contract as ``dedup.simhash_pairs``; ``cache=False``
    leaves no persistent state and recomputes per reference."""
    import numpy as np

    e = cluster_assign(_prepared(df, id_col, vec_col), np.asarray(centroids, dtype=np.float64))
    if cache:
        e = e.persist()
    a = e.select(
        F.col("cluster"), F.col(id_col).alias("_ida"),
        F.col("v").alias("_va"), F.col("norm").alias("_na"),
    )
    b = e.select(
        F.col("cluster"), F.col(id_col).alias("_idb"),
        F.col("v").alias("_vb"), F.col("norm").alias("_nb"),
    )
    cos = F.round(dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6)
    losers = (
        # shuffle-hash, not sort-merge: the join key has only k distinct
        # values, so SMJ would sort the whole corpus by cluster id for no
        # benefit; a hash join streams each cluster's block directly
        a.join(b.hint("shuffle_hash"), on="cluster")
        .where(F.col("_ida") < F.col("_idb"))
        .where(cos >= threshold)
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_loser", F.lit(True))
    )
    return (
        e.select(id_col, "cluster")
        .join(losers, on=id_col, how="left")
        .select(id_col, "cluster", F.col("_loser").isNull().alias("keep"))
    )


def centroid_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: str,
    threshold: float = 0.0,
) -> DataFrame:
    """Embedding quality signal: cosine of every vector to its GROUP
    centroid, flagging off-topic rows (``is_outlier`` when the round-6
    cosine falls below ``threshold``).  The per-cluster analogue of
    CLIP-score percentile filtering — SemDeDup prunes near-duplicates
    inside a cluster; this prunes the rows that don't belong to it.

    Scale shape (10^12 rows): centroids come from ``posexplode`` →
    ``groupBy(group, pos).avg`` — the partial aggregation reduces each
    task's n·dim exploded rows to (groups × dim) before the one exchange —
    then re-assemble per group via a bounded ``collect_list`` (exactly
    ``dim`` structs per group).  The centroid's self-norm is computed ONCE
    per group on that one-row-per-group side (not re-folded per corpus
    row), and the per-row cosine is let-bound so its fold runs once per
    row, not once per output column.  The join back is a plain equi-join
    on the group key: the centroid side has one row per group, so AQE
    broadcasts it when genuinely small — no forced hint (group cardinality
    is caller-controlled, not provably bounded).  The remaining per-row
    work (dot with the centroid + the row's own norm) is map-side Catalyst
    fold work.  ``alignment.cosine`` is deliberately NOT reused here: its
    contract recomputes both norms inside the expression, which would put
    the group-constant centroid fold back into the per-row projection.

    Determinism: centroid components are rounded to 9 decimals (partial
    sums in any order agree at that precision), the dot and norm products
    to 9 before the divide, the score to 6 — the package-wide cross-engine
    replay contract.  Rows with a NULL group or NULL vector are excluded
    (they contribute to no centroid and get no score).
    """
    base = df.where(
        F.col(group_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col),
        F.col(group_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    cent = (
        base.select(group_col, F.posexplode("_v").alias("_p", "_x"))
        .groupBy(group_col, "_p")
        .agg(F.round(F.avg("_x"), 9).alias("_m"))
        .groupBy(group_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                lambda s: s["_m"],
            ).alias("_c")
        )
        # UNrounded so den below equals round(|v|·|c|, 9) exactly — the
        # aggregate boundary makes _c an attribute, so the two dot()
        # references cannot re-inline the collect_list expression
        .withColumn("_cn", F.sqrt(dot(F.col("_c"), F.col("_c"))))
    )

    def score(v: Column) -> Column:
        nd = F.struct(
            F.round(dot(v, F.col("_c")), 9).alias("n"),
            F.round(F.sqrt(dot(v, v)) * F.col("_cn"), 9).alias("d"),
        )
        return let(
            nd, lambda x: F.when(x["d"] > 0, F.round(x["n"] / x["d"], 6))
        )

    # let-bind the row vector (its cast-transform has 3 reference sites)
    # AND the cosine itself (2 output columns) — CollapseProject would
    # otherwise duplicate the full fold per reference
    pair = let(
        F.col("_v"),
        lambda v: let(
            score(v),
            lambda c: F.struct(
                c.alias("cos"),
                F.coalesce(c < threshold, F.lit(True)).alias("out"),
            ),
        ),
    )
    return (
        base.join(cent, group_col)
        .select(id_col, group_col, pair.alias("_s"))
        .select(
            id_col,
            group_col,
            F.col("_s.cos").alias("cos_centroid"),
            F.col("_s.out").alias("is_outlier"),
        )
    )
