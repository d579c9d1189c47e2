"""Training-data functions: text analysis, dedup families, similarity,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tickers_daily_intraday_etl_spark.functions import dedupe, similarity, text
from tickers_daily_intraday_etl_spark.functions import multimodal


# ---------------------------------------------------------------------- text
def test_token_counts(spark):
    df = spark.createDataFrame([Row(t="hello  world foo"), Row(t="  "), Row(t="a b!c 12")])
    out = df.select(
        text.ws_token_count(F.col("t")).alias("ws"),
        text.bpe_token_estimate(F.col("t")).alias("bpe"),
    ).collect()
    assert [r.ws for r in out] == [3, 0, 3]
    # "a b!c 12" -> a, b, !, c, 1, 2
    assert out[2].bpe == 6


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [Row(t="the cat and the dog of the house"),
         Row(t="el perro y la casa de que"),
         Row(t="xyzzy plugh")]
    )
    out = [r.l for r in df.select(text.lang_id(F.col("t")).alias("l")).collect()]
    assert out == ["en", "es", "und"]


def test_quality_score_range_and_order(spark):
    df = spark.createDataFrame(
        [Row(id=1, t="the quick brown fox jumps over a lazy dog in the sun"),
         Row(id=2, t="!!! ??? ### $$$ %%%")]
    )
    out = {r.id: r.q for r in df.select("id", text.quality_score(F.col("t")).alias("q")).collect()}
    assert out[1] > out[2]
    assert 0.0 <= out[2] <= out[1] <= 1.0


def test_fingerprints_normalize(spark):
    df = spark.createDataFrame([Row(t="Hello   World"), Row(t="hello world "), Row(t="other")])
    md5s = [r.f for r in df.select(text.fingerprint_md5(F.col("t")).alias("f")).collect()]
    rolls = [r.f for r in df.select(text.rolling_fingerprint(F.col("t")).alias("f")).collect()]
    assert md5s[0] == md5s[1] != md5s[2]
    assert rolls[0] == rolls[1] != rolls[2]


def test_hex_hash64_matches_duckdb(spark):
    import duckdb

    df = spark.createDataFrame([Row(x="alpha"), Row(x="beta")])
    got = {r.x: r.h for r in df.select("x", text.hex_hash64(F.col("x"), seed=3).alias("h")).collect()}
    for x, h in got.items():
        (exp,) = duckdb.sql(
            f"select ('0x' || substr(md5('3:{x}'), 1, 15))::BIGINT"
        ).fetchone()
        assert h == exp, x


# --------------------------------------------------------------------- dedup
def test_exact_dup_groups(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, t="Same  Text"), Row(doc_id=2, t="same text"),
         Row(doc_id=3, t="unique here")]
    )
    out = dedupe.exact_dup_groups(df, "t", "doc_id").collect()
    assert len(out) == 1
    assert out[0].dup_count == 2 and out[0].canonical_id == 1
    kept = dedupe.distinct_by_text(df, "t", "doc_id")
    assert {r.doc_id for r in kept.collect()} == {1, 3}


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(t="a b c d")])
    out = df.select(dedupe.word_shingles(F.col("t"), 3).alias("s")).collect()[0].s
    assert sorted(out) == ["a b c", "b c d"]
    short = spark.createDataFrame([Row(t="a b")])
    assert short.select(dedupe.word_shingles(F.col("t"), 3).alias("s")).collect()[0].s == []


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tonight")
    far = "completely different content about spark shuffles and parquet files here"
    df = spark.createDataFrame(
        [Row(doc_id=1, t=base), Row(doc_id=2, t=near), Row(doc_id=3, t=far),
         Row(doc_id=4, t=base)]  # exact dup of 1
    )
    sigs = dedupe.minhash_signatures(df, "t", "doc_id", n_hashes=8)
    pairs = {(r.id_a, r.id_b) for r in dedupe.lsh_candidate_pairs(sigs, "doc_id", 8, 4).collect()}
    assert (1, 4) in pairs            # identical docs always collide
    assert (1, 2) in pairs or (2, 4) in pairs  # near dup shares bands w.h.p.
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, t="a b c d"), Row(doc_id=2, t="a b c e"), Row(doc_id=3, t="x y z w")]
    )
    # shingles k=2: d1={ab,bc,cd}, d2={ab,bc,ce} -> inter 2, union 4 -> 0.5
    out = {(r.id_a, r.id_b): r.jaccard for r in
           dedupe.ngram_jaccard_pairs(df, "t", "doc_id", shingle_k=2, threshold=0.1).collect()}
    assert out == {(1, 2): 0.5}


def test_simhash_near_pairs(spark):
    base = "spark streaming merge upsert lake table commit manifest lineage tokens"
    near = base.replace("tokens", "token")
    far = "zzz qqq www eee rrr ttt yyy uuu iii ooo"
    df = spark.createDataFrame([Row(doc_id=1, t=base), Row(doc_id=2, t=near), Row(doc_id=3, t=far)])
    sig = dedupe.simhash(df, "t", "doc_id", bits=32)
    vals = {r.doc_id: r.simhash for r in sig.collect()}
    assert all(0 <= v < (1 << 32) for v in vals.values())
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             dedupe.simhash_near_pairs(sig, "doc_id", max_hamming=7, bits=32).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_simhash_64_bits_and_near_pairs(spark):
    base = "spark streaming merge upsert lake table commit manifest lineage tokens"
    near = base.replace("tokens", "token")
    df = spark.createDataFrame([Row(doc_id=1, t=base), Row(doc_id=2, t=near)])
    sig = dedupe.simhash(df, "t", "doc_id")  # default 64-bit
    vals = {r.doc_id: r.simhash for r in sig.collect()}
    # 60 informative bits (hex_hash64), top 4 structurally zero, never negative
    assert all(0 <= v < (1 << 60) for v in vals.values())
    assert any(v >= (1 << 32) for v in vals.values())  # actually uses >32 bits
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             dedupe.simhash_near_pairs(sig, "doc_id", max_hamming=12).collect()}
    assert pairs[(1, 2)] == bin(vals[1] ^ vals[2]).count("1")


def test_simhash_band_occupancy_subquadratic(spark):
    """The pigeonhole band keyspace must not STRUCTURALLY collapse:
    mutually-unrelated docs (random token sets) should spread across the
    (chunk_id, chunk) buckets, keeping within-bucket join work near-linear.
    At 32 bits the 8-bit chunks (256 values) force ~n/256 unrelated docs
    into every bucket; at 64 bits the 16-bit chunks must spread them —
    this is exactly the difference that makes 10^9-doc corpora feasible."""
    rng = np.random.default_rng(11)
    rows = [
        Row(doc_id=i, t=" ".join(f"w{x}" for x in rng.integers(0, 200000, 12)))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows)

    def join_work(bits: int) -> int:
        chunks = 4
        chunk_bits = bits // chunks
        mask = (1 << chunk_bits) - 1
        occ: dict = {}
        for r in dedupe.simhash(df, "t", "doc_id", bits=bits).collect():
            for c in range(chunks):
                key = (c, (r.simhash >> (c * chunk_bits)) & mask)
                occ[key] = occ.get(key, 0) + 1
        return sum(v * v for v in occ.values())

    n = 3000 * 4  # rows in the banded relation
    w64 = join_work(64)
    w32 = join_work(32)
    assert w64 < 3 * n, w64        # 16-bit chunks: near-perfect spread
    assert w32 > 10 * w64, (w32, w64)  # 8-bit chunks: structural pile-up


# ---------------------------------------------------------------- similarity
def test_cosine_topk_brute_force(spark):
    rows = [Row(vec_id=i, embedding=[float(i == j) for j in range(4)]) for i in range(4)]
    rows.append(Row(vec_id=9, embedding=[0.9, 0.1, 0.0, 0.0]))
    df = spark.createDataFrame(rows)
    out = similarity.cosine_topk_to_query(df, "embedding", "vec_id", [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in out] == [0, 9]
    assert out[0].cos_sim == pytest.approx(1.0)


def test_ann_bucketed_pairs_finds_duplicate_vectors(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((20, 8)).tolist()
    rows = [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append(Row(vec_id=100, embedding=[float(x) for x in vecs[0]]))  # exact dup of 0
    df = spark.createDataFrame(rows)
    pairs = {(r.id_a, r.id_b) for r in
             similarity.ann_bucketed_pairs(df, "embedding", "vec_id", n_planes=6, threshold=0.99).collect()}
    assert (0, 100) in pairs


def test_ivf_probe_subset_of_bruteforce(spark):
    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((30, 8))
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    centroids = vecs[:4].tolist()
    query = vecs[5].tolist()
    ivf = similarity.ivf_topk_to_query(df, "embedding", "vec_id", query, centroids, k=5, n_probe=4)
    brute = similarity.cosine_topk_to_query(df, "embedding", "vec_id", query, k=5)
    # probing ALL lists == brute force (recall 1.0 when n_probe = n_centroids)
    assert [r.vec_id for r in ivf.collect()] == [r.vec_id for r in brute.collect()]


# ---------------------------------------------------------------- multimodal
def test_multimodal_feature_extract_deterministic(spark):
    df = multimodal.synthetic_media_oracle(spark, n=12)
    out1 = multimodal.extract_features(df).orderBy("media_id").collect()
    out2 = multimodal.extract_features(df).orderBy("media_id").collect()
    assert [r.features for r in out1] == [r.features for r in out2]
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in out1)
    assert all(abs(sum(r.features) - 1.0) < 1e-5 for r in out1)  # histogram sums to 1


def test_multimodal_feature_golden_values(spark):
    """Pin the deterministic byte-histogram kernel exactly: payload bytes
    0..15 hit each of the 16 buckets once -> every feature == 1/16."""
    from pyspark.sql import types as T

    payload = bytearray(range(16))
    df = spark.createDataFrame(
        [("m-0", "image", payload, "image/png", 4, 4, None)], multimodal.MEDIA_SCHEMA
    )
    (row,) = multimodal.extract_features(df).collect()
    assert row.n_bytes == 16
    assert row.features == [pytest.approx(1.0 / 16)] * multimodal.FEATURE_DIM
    # 3 bytes all congruent to 2 (mod 16): bucket 2 gets everything
    df2 = spark.createDataFrame(
        [("m-1", "audio", bytearray([2, 18, 34]), "audio/wav", None, None, 10)],
        multimodal.MEDIA_SCHEMA,
    )
    (row2,) = multimodal.extract_features(df2).collect()
    exp = [0.0] * multimodal.FEATURE_DIM
    exp[2] = 1.0
    assert row2.features == [pytest.approx(x) for x in exp]


def test_rolling_fingerprint_matches_duckdb_fold(spark):
    import duckdb
    from pyspark.sql import Row as R

    texts = ["Hello   World", "a", "", "ünïcode tëst", "the quick brown fox"]
    df = spark.createDataFrame([R(t=t) for t in texts])
    got = [r.f for r in df.select(text.rolling_fingerprint(F.col("t")).alias("f")).collect()]
    for t, g in zip(texts, got):
        (exp,) = duckdb.execute(
            r"""
            SELECT CAST(list_reduce(
              list_prepend(0::HUGEINT,
                list_transform(regexp_extract_all(trim(regexp_replace(lower(?), '\s+', ' ', 'g')), '.'),
                               c -> unicode(c)::HUGEINT)),
              (a, x) -> (a * 257 + x) % 2305843009213693951::HUGEINT) AS BIGINT)
            """,
            [t],
        ).fetchone()
        assert g == exp, t


def test_jaccard_hot_shingle_cap(spark):
    """A stop-shingle shared by EVERY doc must not create pairs once its
    document frequency exceeds the cap — and with the hot shingle capped
    away, otherwise-unrelated docs have no surviving intersection."""
    common = "of the day"  # one shared 3-shingle in every doc
    rows = [Row(doc_id=i, t=f"{common} unique{i} tail{i} end{i}") for i in range(10)]
    df = spark.createDataFrame(rows)
    capped = dedupe.ngram_jaccard_pairs(df, "t", "doc_id", shingle_k=3, threshold=0.01,
                                        max_doc_freq=5)
    assert capped.count() == 0
    uncapped = dedupe.ngram_jaccard_pairs(df, "t", "doc_id", shingle_k=3, threshold=0.01,
                                          max_doc_freq=None)
    assert uncapped.count() == 45  # all C(10,2) pairs via the stop shingle


def test_connected_components_multi_hop(spark):
    """Chain a-b, b-c plus an isolated node: the fixpoint must label the
    whole chain with min(a) (requires >1 propagation round) and leave the
    isolated node as its own cluster."""
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2)], "id_a long, id_b long"  # a path: 1-2-3-4
    )
    out = {r.doc_id: r.cluster_id for r in
           dedupe.connected_components(nodes, pairs, "doc_id").collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_connected_components_chain_converges_in_log_rounds(spark, monkeypatch):
    """A 64-node near-dup chain (the template-page shape common in web
    corpora) is the worst case for plain label propagation (~63 rounds,
    one per hop).  Large-star/small-star (forced: driver cap 0) must
    still produce the exact fixpoint AND converge in O(log n) rounds."""
    monkeypatch.setattr(dedupe, "_DRIVER_CC_MAX_EDGES", 0)
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    stats: dict = {}
    out = {r.doc_id: r.cluster_id for r in
           dedupe.connected_components(nodes, pairs, "doc_id", stats=stats).collect()}
    assert out == {i: 0 for i in range(n)}
    # log2(64) = 6; allow constant-factor slack but far below diameter (63)
    assert stats["rounds"] <= 12, stats


def test_connected_components_raises_without_convergence(spark, monkeypatch):
    """Exhausting max_iters of the distributed rounds (forced: driver cap
    0) must raise, not silently return non-fixpoint labels that diverge
    from the recursive-CTE oracle."""
    monkeypatch.setattr(dedupe, "_DRIVER_CC_MAX_EDGES", 0)
    nodes = spark.createDataFrame([(i,) for i in range(16)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedupe.connected_components(nodes, pairs, "doc_id", max_iters=1)


def test_connected_components_small_graph_labels_on_driver(spark):
    """A graph under the driver cap is labelled by the driver union-find:
    no star round runs, and the labels are the component minima."""
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(5, 3), (3, 7), (1, 2), (2, 2), (7, 5)], "id_a long, id_b long"
    )
    stats: dict = {}
    out = {r.doc_id: r.cluster_id for r in
           dedupe.connected_components(nodes, pairs, "doc_id", stats=stats).collect()}
    assert stats["rounds"] == 0
    assert out == {0: 0, 1: 1, 2: 1, 3: 3, 4: 4, 5: 3, 6: 6, 7: 3}


def test_connected_components_collects_no_edge_off_the_driver_path(spark, monkeypatch):
    """The path is picked from the edge count and the id type before any
    edge reaches the driver: a graph above the cap, and a graph whose ids
    Python does not order as Spark does (doubles), run the star rounds
    without one collect."""
    DataFrame = type(spark.range(1))  # the concrete class defines collect
    collects = []
    real_collect = DataFrame.collect
    monkeypatch.setattr(DataFrame, "collect", lambda self: collects.append(1) or real_collect(self))
    monkeypatch.setattr(dedupe, "_DRIVER_CC_MAX_EDGES", 2)
    for typ, edges, want in (
        ("long", [(1, 2), (3, 2), (4, 3)], {1: 1, 2: 1, 3: 1, 4: 1, 5: 5}),  # 3 edges > cap
        ("double", [(2.5, 1.5)], {1.5: 1.5, 2.5: 1.5, 4.0: 4.0, 5.0: 5.0}),
    ):
        nodes = spark.createDataFrame([(k,) for k in want], f"doc_id {typ}")
        pairs = spark.createDataFrame(edges, f"id_a {typ}, id_b {typ}")
        stats: dict = {}
        collects.clear()
        out = dedupe.connected_components(nodes, pairs, "doc_id", stats=stats)
        assert stats["rounds"] > 0 and not collects, (typ, stats, collects)
        assert {r.doc_id: r.cluster_id for r in out.collect()} == want


def _cc_property_graph(rng, n):
    """Disjoint chains, stars, isolated nodes, self-loops, repeated and
    reversed edges over a shuffled id space (so component minima sit
    anywhere in a chain or star)."""
    ids = list(range(n))
    rng.shuffle(ids)
    it = iter(ids)
    edges = []
    for length in (2, 3, 9, 17):  # chains
        c = [next(it) for _ in range(length)]
        edges += list(zip(c, c[1:]))
    for leaves in (1, 4, 12):  # stars
        hub = next(it)
        edges += [(hub, next(it)) for _ in range(leaves)]
    loops = [next(it) for _ in range(3)]  # self-loops only: still isolated
    edges += [(x, x) for x in loops] + [(edges[0][0], edges[0][0])]
    edges += edges[:5] + [(b, a) for a, b in edges[3:9]]  # repeats, reversals
    rng.shuffle(edges)
    return edges  # the remaining ids stay isolated


def test_connected_components_driver_and_distributed_paths_agree(spark, monkeypatch):
    """Seeded property test: the driver union-find and the distributed
    star rounds (forced: driver cap 0) return identical rows and schema,
    for integer and string ids."""
    import random

    def both(nodes, pairs):
        stats: dict = {}
        driver = dedupe.connected_components(nodes, pairs, "doc_id", stats=stats)
        assert stats["rounds"] == 0
        d_rows, d_schema = sorted(driver.collect()), driver.schema
        with monkeypatch.context() as m:
            m.setattr(dedupe, "_DRIVER_CC_MAX_EDGES", 0)
            dist = dedupe.connected_components(nodes, pairs, "doc_id", stats=stats)
            assert stats["rounds"] > 0
            assert sorted(dist.collect()) == d_rows
            assert dist.schema == d_schema
        return dict(d_rows)

    for seed in (11, 12):
        rng = random.Random(seed)
        n = 70
        edges = _cc_property_graph(rng, n)
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        out = both(nodes, pairs)
        # independent check: component minima by repeated relaxation
        label = {i: i for i in range(n)}
        changed = True
        while changed:
            changed = False
            for a, b in edges:
                low = min(label[a], label[b])
                if label[a] != low or label[b] != low:
                    label[a] = label[b] = low
                    changed = True
        assert out == label

    # string ids: ordering is code-point order on both paths
    snodes = spark.createDataFrame([(x,) for x in ["b", "a9", "a10", "Z", "é", "c", "lone"]],
                                   "doc_id string")
    spairs = spark.createDataFrame(
        [("b", "a9"), ("a10", "b"), ("é", "Z"), ("c", "c"), ("Z", "é")],
        "id_a string, id_b string",
    )
    assert both(snodes, spairs) == {
        "b": "a10", "a9": "a10", "a10": "a10", "Z": "Z", "é": "Z", "c": "c", "lone": "lone",
    }


def test_ann_multitable_recall_superset_of_single_table(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((24, 8)).tolist()
    rows = [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append(Row(vec_id=200, embedding=[float(x) for x in vecs[1]]))  # dup of 1
    df = spark.createDataFrame(rows)
    single = {(r.id_a, r.id_b) for r in
              similarity.ann_bucketed_pairs(df, "embedding", "vec_id", n_planes=6,
                                            seed=42, threshold=0.99).collect()}
    multi = {(r.id_a, r.id_b) for r in
             similarity.ann_multitable_pairs(df, "embedding", "vec_id", n_planes=6,
                                             n_tables=2, seed=42, threshold=0.99).collect()}
    assert single <= multi       # extra tables only ADD candidates
    assert (1, 200) in multi     # exact dups always collide (every table)


def test_ann_multiprobe_recall_superset(spark):
    """Multiprobe (Hamming-1 neighbor buckets) only ADDS candidates over
    the exact-bucket join, and recovers near-pairs split by one plane."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((40, 8))
    rows = [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    # near-dup at cosine ~0.999: likely split across a plane at 12 planes
    rows.append(Row(vec_id=300, embedding=[float(x) for x in (vecs[2] + 0.02 * rng.standard_normal(8))]))
    df = spark.createDataFrame(rows)
    plain = {(r.id_a, r.id_b) for r in
             similarity.ann_bucketed_pairs(df, "embedding", "vec_id", n_planes=12,
                                           seed=1, threshold=0.9).collect()}
    probed = {(r.id_a, r.id_b) for r in
              similarity.ann_bucketed_pairs(df, "embedding", "vec_id", n_planes=12,
                                            seed=1, threshold=0.9, multiprobe=12).collect()}
    assert plain <= probed
    # brute-force ground truth: every >=0.9 pair multiprobe found is real
    brute = {(r.id_a, r.id_b) for r in
             similarity.ann_bucketed_pairs(df, "embedding", "vec_id", n_planes=0,
                                           seed=1, threshold=0.9).collect()}
    assert probed <= brute


def test_ivf_trained_centroids_recall(spark):
    """k-means-lite must (a) actually move the centroids, (b) lift the
    probe-search recall on a clustered corpus even from a degenerate init
    (all 4 seeds in one blob)."""
    rng = np.random.default_rng(9)
    centers = rng.standard_normal((4, 16)) * 3.0
    rows = []
    for ci in range(4):
        for j in range(50):
            v = centers[ci] + 0.3 * rng.standard_normal(16)
            rows.append(Row(vec_id=ci * 50 + j, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)
    init = [list(rows[i].embedding) for i in range(4)]  # all from blob 0
    sample = [(r.vec_id, list(r.embedding)) for r in rows if r.vec_id % 3 == 0]
    trained = similarity.train_centroids_lloyd_seq(sample, init, iters=3)
    assert trained != init  # Lloyd moved them
    query = list(rows[170].embedding)  # a blob-3 member
    brute = [r.vec_id for r in
             similarity.cosine_topk_to_query(df, "embedding", "vec_id", query, k=10).collect()]
    got = [r.vec_id for r in
           similarity.ivf_topk_to_query(df, "embedding", "vec_id", query,
                                        trained, k=10, n_probe=2).collect()]
    assert len(set(brute) & set(got)) >= 8  # high recall after training
    naive = [r.vec_id for r in
             similarity.ivf_topk_to_query(df, "embedding", "vec_id", query,
                                          init, k=10, n_probe=2).collect()]
    assert len(set(brute) & set(got)) >= len(set(brute) & set(naive))


def test_planes_for_corpus_occupancy_bound(spark):
    assert similarity.planes_for_corpus(10, 64) == 4          # floor
    assert similarity.planes_for_corpus(10**9, 64) == 24      # 2^24 buckets
    assert similarity.planes_for_corpus(10**6, 64) == 14
    # observability hook agrees with the math on a uniform corpus
    rng = np.random.default_rng(7)
    rows = [Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(8)])
            for i in range(256)]
    occ = similarity.ann_bucket_occupancy(
        spark.createDataFrame(rows), "embedding", n_planes=8, seed=7
    ).agg(F.max("occupancy"), F.sum("occupancy")).first()
    assert occ[1] == 256 and occ[0] <= 16  # spread, no structural pile-up


def test_seq_dot_is_a_plain_left_to_right_fold(monkeypatch):
    """Python >= 3.12 makes sum() of floats compensated (simulated here
    with math.fsum): the oracle-parity dot product must not depend on it."""
    import builtins
    import math

    monkeypatch.setattr(builtins, "sum", math.fsum)
    # plain fold: (1e16 + 1.0) rounds to 1e16, then - 1e16 -> 0.0
    assert similarity._seq_dot([1e16, 1.0, -1e16], [1, 1, 1]) == 0.0


def test_hyperplane_bucket_is_long_past_31_planes(spark):
    """40 planes all on the vector's positive side set bits 0..39: the
    bucket is a long, not an int32 that overflows at bit 31."""
    df = spark.createDataFrame([([1.0, 2.0, 3.0, 4.0],)], "v array<double>")
    out = df.select(similarity.hyperplane_lsh_bucket(F.col("v"), [[1.0] * 4] * 40).alias("b"))
    assert out.first().b == (1 << 40) - 1
    assert dict(out.dtypes)["b"] == "bigint"


def test_hyperplane_bucket_kernels_are_bounded(spark):
    """A long-lived process varying plane sets keeps at most 32 kernels."""
    for i in range(100):
        similarity.hyperplane_lsh_bucket(F.col("v"), [[float(i), 1.0]])
    assert similarity._bucket_kernel.cache_info().currsize <= 32


def test_text_functions_null_safe(spark):
    import duckdb

    df = spark.createDataFrame([Row(doc_id=1, t=None), Row(doc_id=2, t="the cat")],
                               "doc_id long, t string")
    out = df.select(
        text.ws_token_count(F.col("t")).alias("n"),
        text.lang_id(F.col("t")).alias("lang"),
        text.quality_score(F.col("t")).alias("q"),
    ).orderBy("n").collect()
    # NULL text -> NULL everywhere (matches SQL len()/CASE-on-NULL)
    nulls = [r for r in out if r.n is None][0]
    assert nulls.lang is None and nulls.q is None
    (duck_n,) = duckdb.sql("select len(list_filter(regexp_split_to_array(NULL,'\\s+'), x -> x<>''))").fetchone()
    assert duck_n is None  # the oracle agrees


def test_ivf_sample_mod_bounds_driver_sample():
    """The k-means training sample must be SIZE-BOUNDED: whatever the
    corpus size, the modulus keeps |{id : id % mod == 0}| <= cap (+1 for
    id 0), while small test corpora keep the base modulus so existing
    oracle rows are unchanged."""
    from tickers_daily_intraday_etl_spark.functions.similarity import (
        IVF_SAMPLE_CAP,
        ivf_sample_mod,
    )

    # small corpora (both driver test SFs): base modulus untouched
    assert ivf_sample_mod(175) == 7
    assert ivf_sample_mod(2000) == 7
    # at scale the sample is capped, not proportional
    for n in (100_000, 1_000_000, 50_000_000, 10**10):
        mod = ivf_sample_mod(n)
        sample_size = n // mod + 1
        assert sample_size <= IVF_SAMPLE_CAP + 1, (n, mod, sample_size)
        # and not vacuously tiny: the cap is actually approached
        assert sample_size >= IVF_SAMPLE_CAP // 2, (n, mod, sample_size)
    # SQL-oracle parity: GREATEST(base, CEIL(n/cap)) in float == int ceil
    import math
    for n in (175, 2000, 14336, 14337, 999_999, 10**9):
        assert ivf_sample_mod(n) == max(7, math.ceil(n / IVF_SAMPLE_CAP))


def test_fan_out_small_window_bounds(spark):
    """fan_out_small (round 6) must plan a repartition ONLY inside its
    size window — both bounds scale with the core count: tiny inputs
    (< 64KB/core) and large inputs (> openCost/core) pass through
    untouched, so at production scale the helper plans nothing."""
    from tickers_daily_intraday_etl_spark.functions._util import fan_out_small
    from tickers_daily_intraday_etl_spark import plans

    cores = spark.sparkContext.defaultParallelism

    def has_roundrobin(df):
        return "roundrobin" in plans.explain_str(df).lower()

    tiny = spark.range(100)  # est 800 bytes << 64KB/core
    assert not has_roundrobin(fan_out_small(tiny))
    # est = 8 bytes/row: pick a row count inside (cores*64KB, cores*4MB)
    mid = spark.range(cores * 32 * 1024)  # cores * 256KB
    assert has_roundrobin(fan_out_small(mid))
    big = spark.range(cores * 1024 * 1024)  # cores * 8MB > cores * 4MB cap
    assert not has_roundrobin(fan_out_small(big))


def test_connected_components_restores_shuffle_partitions(spark, monkeypatch):
    """The distributed CC rounds (forced: driver cap 0) must leave the
    session's shuffle width as it was — after a success and after a
    raise (non-convergence)."""
    from pyspark.sql import functions as F

    from tickers_daily_intraday_etl_spark.functions.dedupe import connected_components

    monkeypatch.setattr(dedupe, "_DRIVER_CC_MAX_EDGES", 0)

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    nodes = spark.range(6).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.cluster_id for r in connected_components(nodes, pairs, "doc_id").collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
    assert spark.conf.get(key) == before
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        # a triangle needs >= 1 round; max_iters=0 must raise AND restore
        connected_components(nodes, pairs, "doc_id", max_iters=0)
    assert spark.conf.get(key) == before


def test_word_shingles_null_and_order(spark):
    """The round-6 pandas shingle kernel must keep the Column version's
    contract: NULL text -> empty array (not NULL), first-occurrence
    dedup order, k parameterization."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, None), (3, "x y"), (4, "p q p q")],
        "doc_id long, t string",
    )
    rows = {
        r.doc_id: r.s
        for r in df.select("doc_id", dedupe.word_shingles(F.col("t"), 2).alias("s")).collect()
    }
    assert rows[1] == ["a b", "b a"]  # distinct, first-occurrence order
    assert rows[2] == []  # NULL text -> empty array, matching the old when/otherwise
    assert rows[3] == ["x y"]
    assert rows[4] == ["p q", "q p"]
