"""Unit tests for dedup + similarity operators: edge cases the sf-data
parity harness can't exercise (short docs, exact-dup groups, LSH recall
guarantee, simhash pigeonhole exactness, IVF recall and small corpora)."""

import random

import pytest
from pyspark.sql import functions as F

from dataqualitycontroltool_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "completely different words entirely here now"),
        (4, "THE  Quick   Brown fox jumps over the lazy dog"),  # exact after norm
        (5, "tiny doc"),                                        # < 3 tokens
        (6, ""),                                                # empty
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("",), ("x y z",)], ["t"])
    out = df.select(F.size(dedup.shingles(F.col("t"))).alias("n")).collect()
    assert [r.n for r in out] == [0, 0, 1]


def test_exact_duplicate_groups(docs):
    out = dedup.exact_duplicate_groups(docs, "id", "text").collect()
    assert len(out) == 1
    assert out[0].n_rows == 2 and out[0].survivor_id == 1  # ids 1 and 4


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             dedup.ngram_jaccard_pairs(docs, "id", "text", threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # identical after norm
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert all(a != 3 and b != 3 for a, b in pairs)


def test_minhash_lsh_identical_docs_always_collide(docs):
    # identical shingle sets → identical signatures → all bands collide
    pairs = {(r.id_a, r.id_b) for r in
             dedup.minhash_lsh_pairs(docs, "id", "text", threshold=0.99).collect()}
    assert pairs == {(1, 4)}


def test_minhash_signature_shape(docs):
    sig = dedup.minhash_signatures(docs, "id", "text", num_hashes=12)
    assert sig.columns == ["id"] + [f"mh{i}" for i in range(12)]
    rows = {r.id for r in sig.collect()}
    assert rows == {1, 2, 3, 4}  # docs 5 and 6 have no shingles


def test_simhash_deterministic_and_normalized(docs):
    sh = {r.id: r.simhash for r in dedup.simhash_table(docs, "id", "text").collect()}
    assert sh[1] == sh[4]  # whitespace/case-normalized identical
    assert 0 <= sh[1] < (1 << dedup.SIMHASH_BITS)
    # near-dup differs in few bits, unrelated doc in many
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


def test_simhash_banded_join_exact(docs):
    # banded plan must equal brute force for max_hamming <= bands-1
    sh = {r.id: r.simhash for r in dedup.simhash_table(docs, "id", "text").collect()}
    brute = {
        (a, b)
        for a in sh for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    banded = {(r.id_a, r.id_b) for r in
              dedup.simhash_pairs(docs, "id", "text", max_hamming=3).collect()}
    assert banded == brute


def test_simhash_banded_rejects_unsafe_hamming(docs):
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, "id", "text", max_hamming=10, bands=4)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),    # close to 0
        (2, [-1.0, 0.0, 0.0]),   # opposite
        (3, [0.0, 1.0, 0.0]),    # orthogonal
        (4, [1.0, 0.05, 0.0]),   # closest to 0
    ]
    return spark.createDataFrame(rows, ["vid", "v"]).select(
        "vid", F.col("v").cast("array<float>").alias("v")
    )


def test_brute_force_topk_order(vecs):
    out = similarity.brute_force_topk(vecs, "vid", "v", [0], k=3).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(4, 1), (1, 2), (3, 3)]
    assert out[0].cos > out[1].cos > out[2].cos


def test_embedding_cosine_pairs_threshold(vecs):
    pairs = {(r.id_a, r.id_b) for r in
             dedup.embedding_cosine_pairs(vecs, "vid", "v", threshold=0.99).collect()}
    assert (0, 4) in pairs and (0, 2) not in pairs


def test_ivf_full_probe_equals_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2]
    brute = {(r.query_id, r.rank): r.neighbor_id for r in
             similarity.brute_force_topk(emb, "vec_id", "embedding", qids, k=5).collect()}
    ivf = {(r.query_id, r.rank): r.neighbor_id for r in
           similarity.ivf_topk(emb, "vec_id", "embedding", qids, k=5,
                               n_centroids=8, nprobe=8).collect()}
    assert ivf == brute  # full probe degenerates to exact


def test_ivf_partial_probe_subset(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1]
    out = similarity.ivf_topk(emb, "vec_id", "embedding", qids, k=5,
                              n_centroids=8, nprobe=2).collect()
    assert {r.query_id for r in out} == {0, 1}
    for r in out:
        assert 1 <= r.rank <= 5 and r.neighbor_id != r.query_id


def test_ivf_default_on_corpus_smaller_than_centroids(spark):
    """10 vectors, default 16 centroids: k-means trains one centroid per
    vector instead of failing to draw 16 distinct seeds.  Each list then
    holds one vector, so nprobe=2 reaches the query itself and its exact
    nearest neighbor; full probe is exact top-k."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    qids = [0, 1, 2]
    exact = {tuple(r) for r in similarity.brute_force_topk(df, "vid", "v", qids).collect()}
    got = {tuple(r) for r in similarity.ivf_topk(df, "vid", "v", qids).collect()}
    assert got == {r for r in exact if r[3] == 1}
    full = {tuple(r) for r in similarity.ivf_topk(df, "vid", "v", qids, nprobe=16).collect()}
    assert full == exact


def test_kmeans_centroids_empty_corpus_raises(spark):
    df = spark.createDataFrame([], "vid long, v array<double>")
    with pytest.raises(ValueError, match="no vectors"):
        similarity.kmeans_centroids(df, "v", id_col="vid")


def test_ivf_default_partial_probe_recall(spark):
    """The default IVF path — its own seeded k-means, nprobe=2 of 16 —
    keeps recall@5 >= 0.9 against brute force on a clustered corpus
    (2,000 x 16 dims, 16 Gaussian clusters)."""
    import numpy as np

    rng = np.random.default_rng(11)
    centres = rng.standard_normal((16, 16))
    X = centres[np.arange(2000) % 16] + 0.3 * rng.standard_normal((2000, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vid long, v array<double>",
    )
    qids = list(range(100, 120))
    exact = {(r.query_id, r.neighbor_id) for r in
             similarity.brute_force_topk(df, "vid", "v", qids, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in
           similarity.ivf_topk(df, "vid", "v", qids, k=5, nprobe=2).collect()}
    assert len(exact) == 100
    assert len(ivf & exact) / len(exact) >= 0.9


def test_kmeans_centroids_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import numpy as np
    c1 = similarity.kmeans_centroids(emb, "embedding", k=4, id_col="vec_id")
    c2 = similarity.kmeans_centroids(emb, "embedding", k=4, id_col="vec_id")
    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_prefix_filtered_jaccard_equals_plain(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plain = {(r.id_a, r.id_b, r.jaccard) for r in
             dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 0.8).collect()}
    pf = {(r.id_a, r.id_b, r.jaccard) for r in
          dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 0.8,
                                    prefix_filter=True).collect()}
    assert pf == plain and len(plain) > 0


def test_int8_quantization_roundtrip_bound(spark):
    import numpy as np
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    q = similarity.quantize_int8(emb, "vec_id", "embedding")
    deq = similarity.dequantize_int8(q, "vec_id")
    orig = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    scales = {r.vec_id: r.scale for r in q.collect()}
    back = {r.vec_id: np.asarray(r.vec) for r in deq.collect()}
    for vid, v in orig.items():
        err = np.abs(back[vid] - v).max()
        assert err <= scales[vid] / 2 + 1e-9
        # cosine nearly preserved
        cos = (v @ back[vid]) / (np.linalg.norm(v) * np.linalg.norm(back[vid]))
        assert cos > 0.999
    # qvec values fit int8
    row = q.limit(1).collect()[0]
    assert all(-127 <= x <= 127 for x in row.qvec)


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4, island pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comps = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_duplicate_clusters_transitive(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, base),
        (2, base + " v2"),        # pair (1,2)
        (3, base + " v2 v3"),     # pair (2,3); (1,3) may be below threshold
        (9, "completely different text about other things entirely here"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r.id: (r.comp, r.is_survivor)
           for r in dedup.duplicate_clusters(df, "id", "text", threshold=0.5).collect()}
    # all three variants share one component rooted at 1; 9 not in graph
    assert out[1] == (1, True)
    assert out[2][0] == 1 and not out[2][1]
    assert out[3][0] == 1 and not out[3][1]
    assert 9 not in out


def test_connected_components_long_chain_converges(spark):
    """A 60-hop chain collapses to one star in O(log² n) large-star /
    small-star rounds (plain min-label propagation needs 60)."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(60)],
                                  "id_a long, id_b long")
    comps = dedup.connected_components(pairs)
    assert {r.comp for r in comps.collect()} == {0}


def test_banded_hamming_hot_bucket_salting_exact(spark):
    """r5: a (band, bkey) bucket over hot_bucket_threshold entries takes a
    salt-grid self-join (every ordered pair lands in exactly ONE of the s²
    cells) so the quadratic candidate work spreads across tasks instead of
    serializing into the hot key's single shuffle partition.  The grid must
    be EXACT: same pair set as the plain join, no duplicates, no misses —
    pinned here on a corpus whose band 0 is constant (every row in one
    bucket, the phash-skew smell the north star names) with genuine 1-bit
    near-duplicates scattered through the other bands."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = (rng.integers(0, 2**40, 300, dtype=np.int64) << 16) | 0x1234
    fps = []
    for f in base:
        fps.append(int(f))
        if rng.random() < 0.5:
            fps.append(int(f ^ (1 << int(rng.integers(16, 60)))))
    df = spark.createDataFrame(list(enumerate(fps)), "id bigint, fp bigint")
    plain = sorted(
        tuple(r)
        for r in dedup.banded_hamming_pairs(
            df, "id", "fp", 3, hot_bucket_threshold=0
        ).collect()
    )
    salted_df = dedup.banded_hamming_pairs(df, "id", "fp", 3, hot_bucket_threshold=64)
    # the cell keys share salt's bigint type, so the grid join reuses the two
    # explicit-count repartitions: no further (AQE-coalescible) exchange over
    # the salt and cell columns that would merge the grid back into few tasks
    initial = salted_df._jdf.queryExecution().executedPlan().toString()
    grid_exchanges = [ln for ln in initial.splitlines()
                      if "Exchange hashpartitioning" in ln and "salt#" in ln]
    assert len(grid_exchanges) == 2, initial
    assert all("REPARTITION_BY_NUM" in ln for ln in grid_exchanges), grid_exchanges
    salted = sorted(tuple(r) for r in salted_df.collect())
    assert plain == salted and len(plain) > 50
    assert len(set(plain)) == len(plain)


def test_hot_bucket_detection_disabled_ignores_detect_sample(spark):
    """hot_bucket_threshold=0 disables detection, so detect_sample is not
    consulted (the ValueError itself points there); the pairs are the
    plain join's.  With detection on, an out-of-range sample still raises."""
    df = spark.createDataFrame(
        [(0, 0b0000), (1, 0b0001), (2, 0b0111), (3, 2**62 - 1)], "id bigint, fp bigint")
    plain = sorted(tuple(r) for r in dedup.banded_hamming_pairs(
        df, "id", "fp", 3, hot_bucket_threshold=0).collect())
    disabled = sorted(tuple(r) for r in dedup.banded_hamming_pairs(
        df, "id", "fp", 3, hot_bucket_threshold=0, detect_sample=0).collect())
    assert disabled == plain == [(0, 1, 1), (0, 2, 3), (1, 2, 2)]
    with pytest.raises(ValueError, match="detect_sample"):
        dedup.banded_hamming_pairs(df, "id", "fp", 3, detect_sample=0)


def test_minhash_lsh_hot_cluster_salting_exact(spark):
    """r5: a large templated near-dup cluster agrees on all r minima, so
    its docs collapse onto ONE band key — the LSH candidate join's hot
    bucket (the docstring's old 'md5 keys are uniform → no skew' claim was
    wrong for exactly this case).  The salt-grid route must return the
    identical verified-pair set as the plain join."""
    rows = [(i, "the same boilerplate template text body") for i in range(120)]
    rows += [(1000 + i, f"unique document number {i} with its own words {i*7}")
             for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, text string")
    plain = sorted(
        tuple(r)
        for r in dedup.minhash_lsh_pairs(df, "id", "text",
                                         hot_bucket_threshold=0).collect()
    )
    salted = sorted(
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            df, "id", "text", hot_bucket_threshold=40, detect_sample=1.0
        ).collect()
    )
    assert plain == salted and len(plain) >= 120 * 119 // 2
    assert len(set(plain)) == len(plain)


def test_connected_components_path_graph_crosses_stats_reset(spark):
    """localCheckpoint CARRIES Catalyst plan stats into its LogicalRDD leaf.
    Join-based label propagation multiplied them at every join, tripling
    the carried sizeInBytes' bit length per round until a 32k-image
    hamming graph pinned the driver for 19 min inside
    BigInteger.multiplyToomCook3.  Large-star/small-star carries windows,
    not joins: on a 4000-node path (the widest diameter) the returned
    frame's stats stay under 128 bits without any spill."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(3999)],
                                  "id_a long, id_b long")
    comps = dedup.connected_components(pairs)
    size = int(comps._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert size.bit_length() < 128
    out = comps.groupBy("comp").count().collect()
    assert len(out) == 1 and out[0].comp == 0 and out[0]["count"] == 4000


def _union_find_labels(edges):
    """{node: least node of its component}, pure Python."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _random_path(n, seed):
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


def _random_gnm(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


def _hub_star(leaves, seed):
    ids = list(range(leaves + 1))
    random.Random(seed).shuffle(ids)
    return [(ids[0], x) for x in ids[1:]]


@pytest.mark.parametrize("graph", [
    # ids in random order along a path: min-label propagation with pointer
    # jumping shortens such a chain hardly at all and ran out of rounds
    pytest.param(lambda: (_random_path(128, 1), "long"), id="random_path_128"),
    pytest.param(lambda: (_random_path(4000, 2), "long"), id="random_path_4000"),
    pytest.param(lambda: (_random_gnm(2000, 3000, 3), "long"), id="gnm_2000_3000"),
    pytest.param(lambda: ([(f"n{a}", f"n{b}") for a, b in _random_path(300, 4)],
                          "string"), id="string_ids"),
    pytest.param(lambda: (_hub_star(20000, 5), "long"), id="hub_star_20000"),
    # a self-pair is a node of its own; a duplicated and reversed pair is one edge
    pytest.param(lambda: ([(1, 1), (2, 3), (3, 2), (3, 3), (2, 3), (5, 4)], "long"),
                 id="loops_and_duplicates"),
    pytest.param(lambda: ([], "long"), id="empty"),
])
def test_connected_components_matches_union_find(spark, graph):
    edges, id_type = graph()
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    comps = dedup.connected_components(pairs)
    got = [(r.id, r.comp) for r in comps.collect()]
    assert len(got) == len({i for i, _ in got})  # one row per node
    assert dict(got) == _union_find_labels(edges)
    size = int(comps._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert size.bit_length() < 128


def test_blocked_cosine_rejects_string_ids(spark):
    """String ids would silently cast to NULL blocks — must raise instead."""
    df = spark.createDataFrame([("a", [1.0, 0.0])], "img string, v array<double>")
    with pytest.raises(TypeError, match="integral id"):
        similarity.cosine_pairs_blocked(df, "img", "v")


def test_simhash_pairs_cache_contract(docs):
    # round-1 review: cache lifecycle is explicit — cache=False must not
    # grow the set of persistent RDDs, and both modes agree on results.
    # (the ContextCleaner may drop OLD entries asynchronously, so compare
    # id sets, not counts)
    spark = docs.sparkSession
    jsc = spark.sparkContext._jsc.sc()

    def ids():
        s = jsc.getPersistentRDDs().keys().mkString(",")
        return set(s.split(",")) if s else set()

    cached = {tuple(r) for r in dedup.simhash_pairs(docs, "id", "text").collect()}
    spark.catalog.clearCache()
    before = ids()
    got = {tuple(r) for r in
           dedup.simhash_pairs(docs, "id", "text", cache=False).collect()}
    # unpersists from clearCache/other fixtures complete asynchronously on
    # the ContextCleaner thread — give stale entries a moment to drain
    # before declaring that cache=False grew the persistent set
    import time

    after = ids()
    for _ in range(20):
        if after <= before:
            break
        time.sleep(0.25)
        after = ids()
    assert after <= before
    assert got == cached


def test_semantic_dedup_within_cluster_only(spark):
    # SemDeDup semantics: duplicates sharing a cluster drop the larger id;
    # near-identical vectors split across clusters are NOT compared (the
    # documented trade of cluster-then-prune)
    import numpy as np

    c0 = np.array([1.0, 0.0, 0.0, 0.0])
    c1 = np.array([0.0, 1.0, 0.0, 0.0])
    rows = [
        (10, [1.0, 0.05, 0.0, 0.0]),   # cluster 0
        (11, [1.0, 0.06, 0.0, 0.0]),   # cluster 0, ~identical to 10 -> drop
        (12, [0.9, 0.01, 0.4, 0.0]),   # cluster 0, dissimilar enough
        (20, [0.05, 1.0, 0.0, 0.0]),   # cluster 1
        (21, [0.06, 1.0, 0.0, 0.0]),   # cluster 1, ~identical to 20 -> drop
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.cluster, r.keep) for r in
           similarity.semantic_dedup(df, "vec_id", "embedding",
                                     np.stack([c0, c1]), threshold=0.98).collect()}
    assert out[10] == (0, True) and out[11] == (0, False)
    assert out[12][0] == 0 and out[12][1] is True
    assert out[20] == (1, True) and out[21] == (1, False)


def test_decontamination_flags(spark):
    corpus = spark.createDataFrame([
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "totally unrelated words that never appear in any benchmark doc"),
        (3, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta",)], "text string")
    out = {r.doc_id: (r.n_overlap, r.contaminated) for r in
           dedup.decontamination_flags(corpus, bench, "doc_id", "text", k=8)
           .collect()}
    # doc 1: contains the full benchmark 8-gram (and 2 more shifted ones
    # that don't match) -> exactly 1 shared shingle
    assert out[1] == (1, True)
    assert out[2] == (0, False)
    # doc 3: benchmark 8-gram embedded mid-document
    assert out[3] == (1, True)
    # higher threshold declares doc 1 clean
    strict = {r.doc_id: r.contaminated for r in
              dedup.decontamination_flags(corpus, bench, "doc_id", "text",
                                          k=8, min_overlap=2).collect()}
    assert strict[1] is False


def test_connected_components_string_ids(spark):
    # string ids are legitimate (least() = lexicographic min): numeric-looking
    # strings order as strings, so '10' < '9' and x10 is the survivor
    pairs = spark.createDataFrame(
        [("m1", "m2"), ("m2", "m3"), ("m3", "m4"), ("x9", "x10")],
        "id_a string, id_b string",
    )
    comps = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    assert comps == {"m1": "m1", "m2": "m1", "m3": "m1", "m4": "m1",
                     "x9": "x10", "x10": "x10"}


def test_decontamination_bloom_prefilter_result_preserving(spark):
    # the bloom pre-filter only PRUNES before the exact join — results must
    # be identical, and the plan must actually contain the might_contain test
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where("doc_id % 50 = 0").select("text")
    plain = sorted(map(tuple, dedup.decontamination_flags(
        docs, bench, "doc_id", "text", k=8).collect()))
    bloomed_df = dedup.decontamination_flags(
        docs, bench, "doc_id", "text", k=8,
        bloom_fpp=0.01, bloom_expected_items=10_000)
    plan = bloomed_df._jdf.queryExecution().executedPlan().toString()
    assert "shiftright" in plan  # the bitmap bit-test reached the plan
    assert sorted(map(tuple, bloomed_df.collect())) == plain


def test_simhash_packed_fast_path_matches_definition(spark):
    # r3: documents <= 1023 tokens take the packed-counter fold (10 longs,
    # carry-free multiply spread); longer ones the wide 60-element fold.
    # Both must equal the md5 bit definition computed independently in
    # Python (the oracle's definition), including the >1023-token doc and
    # the empty string (which tokenizes to [''], one empty token).
    import hashlib
    import random
    import re

    from pyspark.sql import functions as F

    def py_simhash(text):
        toks = re.split(r"\s+", text.strip().lower())
        sums = [0] * 60
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            for j in range(60):
                bit = (int(hx[j // 4], 16) >> (j % 4)) & 1
                sums[j] += 1 if bit else -1
        return sum((1 << j) for j in range(60) if sums[j] > 0)

    random.seed(7)
    words = ["alpha", "beta", "Gamma", "delta", "x1", "yz", "love", "q"]
    rows = [(i, " ".join(random.choice(words) for _ in range(random.randint(0, 30))))
            for i in range(30)]
    rows += [(100, " ".join(random.choice(words) for _ in range(1500))),  # wide path
             (101, "")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.simhash for r in
           df.select("id", dedup.simhash(F.col("text"))).collect()}
    assert all(got[i] == py_simhash(t) for i, t in rows)
    # xxhash64 variant: packed fast path == wide fold on the same rows
    fast = {r.id: r.simhash for r in
            df.select("id", dedup.simhash(F.col("text"), "xxhash64")).collect()}
    wide = {r.id: r.simhash for r in
            df.select("id", dedup._simhash_wide(
                dedup.tokens(F.col("text")), "xxhash64").alias("simhash")).collect()}
    assert fast == wide


# --------------------------------------------------------------------------
# repeated-span detection (exact-substring dedup)
# --------------------------------------------------------------------------


def _py_repeated_spans(rows, k=3, min_docs=2):
    """Independent reference: pure-Python k-gram positions, shared vocab,
    gaps-and-islands merge."""
    import re
    from collections import defaultdict

    toks = {i: re.split(r"\s+", t.strip().lower()) for i, t in rows}
    grams = defaultdict(set)   # gram -> doc ids
    pos = defaultdict(list)    # doc -> positions of each gram
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            g = " ".join(tk[p:p + k])
            grams[g].add(i)
            pos[i].append((p, g))
    shared = {g for g, ds in grams.items() if len(ds) >= min_docs}
    spans = {}
    for i, plist in pos.items():
        hit = sorted(p for p, g in plist if g in shared)
        out, start = [], None
        for j, p in enumerate(hit):
            if start is None:
                start = p
            # merge while coverage windows overlap or touch (gap <= k)
            if j + 1 == len(hit) or hit[j + 1] - p > k:
                out.append((start, p + k - 1))
                start = None
        if out:
            spans[i] = out
    return spans


SPAN_ROWS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "intro words alpha beta gamma delta epsilon closing remark"),
    (3, "zeta eta theta unrelated filler text goes here"),
    (4, "nothing in common with the others at all"),
    (5, "x"),
    (6, ""),
]


def test_repeated_spans_match_python_reference(spark):
    df = spark.createDataFrame(SPAN_ROWS, ["id", "text"])
    got = {
        (r.id, r.span_start, r.span_end)
        for r in dedup.repeated_ngram_spans(df, "id", "text", k=3).collect()
    }
    want = {
        (i, s, e)
        for i, sp in _py_repeated_spans(SPAN_ROWS, k=3).items()
        for s, e in sp
    }
    assert got == want and got  # non-empty: docs 1/2 share a 5-token run


def test_repeated_spans_maximal_merge(spark):
    # a 5-token shared run = 3 overlapping 3-grams -> ONE maximal span
    df = spark.createDataFrame(SPAN_ROWS[:2], ["id", "text"])
    spans = dedup.repeated_ngram_spans(df, "id", "text", k=3).collect()
    by_doc = {r.id: (r.span_start, r.span_end, r.span_tokens) for r in spans}
    assert by_doc[1] == (0, 4, 5) and by_doc[2] == (2, 6, 5)


def test_repeated_span_summary_zeros_and_frac(spark):
    df = spark.createDataFrame(SPAN_ROWS, ["id", "text"])
    out = {r.id: r for r in
           dedup.repeated_span_summary(df, "id", "text", k=3).collect()}
    assert len(out) == 6                       # every doc, zeros when clean
    assert out[4].n_spans == 0 and out[4].repeated_frac == 0.0
    # doc 1 shares "alpha..epsilon" with 2 AND "zeta eta theta" with 3;
    # the two regions touch (hit gap 3 == k) so they merge to ONE span
    assert out[1].n_spans == 1 and out[1].repeated_tokens == 8
    assert out[1].repeated_frac == 1.0
    assert out[3].n_spans == 1 and out[3].repeated_tokens == 3
    assert out[3].repeated_frac == round(3 / 8, 6)
    assert out[6].n_spans == 0                 # empty doc survives


def test_overlapping_shared_runs_merge_no_double_count(spark):
    # k=8: doc 1 = t0..t10 (11 tokens); doc 2 = exactly t0..t7, doc 3 =
    # exactly t3..t10.  Doc 1's shared gram positions {0, 3} overlap in
    # coverage (3..7) — they must merge to ONE span covering all 11 tokens,
    # never double-count (repeated_frac > 1 / n_removed > n_tokens).
    t = [f"tok{i}" for i in range(11)]
    df = spark.createDataFrame(
        [(1, " ".join(t)), (2, " ".join(t[:8])), (3, " ".join(t[3:]))],
        ["id", "text"],
    )
    s = {r.id: r for r in
         dedup.repeated_span_summary(df, "id", "text", k=8).collect()}
    assert s[1].n_spans == 1 and s[1].repeated_tokens == 11
    assert s[1].repeated_frac == 1.0
    r = {x.id: x for x in
         dedup.remove_repeated_spans(df, "id", "text", k=8).collect()}
    assert r[1].n_removed == 11 and r[1].n_tokens == 11
    assert r[1].text_clean == ""

def test_repeated_spans_gram_keys_agree(spark):
    df = spark.createDataFrame(SPAN_ROWS, ["id", "text"])
    base = {(r.id, r.span_start, r.span_end)
            for r in dedup.repeated_ngram_spans(df, "id", "text", k=3).collect()}
    for gk in ("md5", "xxhash64"):
        alt = {(r.id, r.span_start, r.span_end)
               for r in dedup.repeated_ngram_spans(
                   df, "id", "text", k=3, gram_key=gk).collect()}
        assert alt == base


def test_remove_repeated_spans_cuts_and_preserves_case(spark):
    rows = [(i, t.replace("alpha", "Alpha") if i == 1 else t)
            for i, t in SPAN_ROWS]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r.id: r for r in
           dedup.remove_repeated_spans(df, "id", "text", k=3).collect()}
    assert out[1].text_clean == ""          # doc 1 fully covered
    assert out[1].n_removed == 8 and out[1].n_tokens == 8
    # span match is case-insensitive, surviving text keeps original case
    assert out[2].text_clean == "intro words closing remark"
    assert out[2].n_removed == 5
    assert out[4].text_clean == SPAN_ROWS[3][1] and out[4].n_removed == 0
    assert out[6].text_clean == "" and out[6].n_tokens == 0


def test_remove_repeated_spans_matches_python_reference(spark):
    df = spark.createDataFrame(SPAN_ROWS, ["id", "text"])
    got = {r.id: r.text_clean for r in
           dedup.remove_repeated_spans(df, "id", "text", k=3).collect()}
    spans = _py_repeated_spans(SPAN_ROWS, k=3)
    import re
    for i, t in SPAN_ROWS:
        tk = re.split(r"\s+", t.strip()) if t.strip() else []
        covered = {p for s, e in spans.get(i, []) for p in range(s, e + 1)}
        want = " ".join(x for j, x in enumerate(tk) if j not in covered)
        assert got[i] == want, i


def test_cross_group_overlap_counts(spark):
    rows = [
        (1, "s1", "one two three four shared tail words here"),
        (2, "s2", "prefix one two three four shared tail words here"),
        (3, "s2", "one two three four nothing else matches now"),
        (4, "s3", "totally disjoint content in this source doc"),
    ]
    df = spark.createDataFrame(rows, ["id", "src", "text"])
    out = {(r.group_a, r.group_b): r.n_shared_grams for r in
           dedup.cross_group_overlap(df, "text", "src", k=4).collect()}
    # s1 vs s2: doc1's 4-grams at pos 0..4 all appear in doc2 (shifted) and
    # pos 0 also in doc3 — distinct shared grams = 5
    assert out == {("s1", "s2"): 5}


def test_contaminated_spans_cut_only_eval_overlap(spark):
    corpus = spark.createDataFrame([
        (1, "intro words alpha beta gamma closing remark here"),
        (2, "nothing matching the held out set at all"),
    ], ["id", "text"])
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma and unrelated eval padding")], ["id", "text"])
    out = {r.id: r for r in dedup.remove_contaminated_spans(
        corpus, bench, "id", "text", k=3).collect()}
    assert out[1].text_clean == "intro words closing remark here"
    assert out[1].n_removed == 3 and out[1].n_tokens == 8
    assert out[2].n_removed == 0 and out[2].text_clean == corpus.collect()[1].text
    spans = dedup.contaminated_spans(corpus, bench, "id", "text", k=3).collect()
    assert [(s.id, s.span_start, s.span_end) for s in spans] == [(1, 2, 4)]


# --- ANN recall contract (VERDICT r3 #4): measured, regression-guarded ----

def test_ann_recall_contract(spark):
    """recall@5 of the IVF path vs brute force at sf0.01 — the per-round
    measured ANN contract.  The floor sits just under the measured value
    (0.925) so a regression in centroid assignment or probing trips it."""
    from __spark_entry__ import q_ann_recall

    rows = {r.method: r for r in q_ann_recall(spark, "/root/testdata/sf0.01").collect()}
    assert set(rows) == {"ivf_nprobe2"}
    assert rows["ivf_nprobe2"].n_exact == 40
    assert rows["ivf_nprobe2"].recall >= 0.9


def test_grams_injection_shared_across_span_operators(spark):
    """VERDICT r3 #7: one positional_grams frame feeds repeated-span
    detection AND span decontamination with identical results to the
    self-exploding paths."""
    corpus_df = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    bench = corpus_df.where(F.col("doc_id") % 7 == 0)
    main = corpus_df.where(F.col("doc_id") % 7 != 0)

    grams = dedup.positional_grams(main, "doc_id", "text", k=3).persist()
    try:
        rep_inj = dedup.repeated_span_summary(
            main, "doc_id", "text", k=3, grams=grams
        )
        rep_own = dedup.repeated_span_summary(main, "doc_id", "text", k=3)
        assert sorted(map(tuple, rep_inj.collect())) == sorted(
            map(tuple, rep_own.collect())
        )
        dec_inj = dedup.remove_contaminated_spans(
            main, bench, "doc_id", "text", k=3, grams=grams
        )
        dec_own = dedup.remove_contaminated_spans(
            main, bench, "doc_id", "text", k=3
        )
        assert sorted(map(tuple, dec_inj.collect())) == sorted(
            map(tuple, dec_own.collect())
        )
        # the injected plan reads the persisted grams (InMemoryRelation) —
        # its re-explode exists only INSIDE the cache's build plan
        plan = rep_inj._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
    finally:
        grams.unpersist()
