"""Training-data operator tests: text analysis, dedup, similarity,
multimodal plumbing — plus the chunked-window exactness property."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from traval_spark.operators.dedup import (
    exact_dup_groups,
    lsh_buckets,
    ngram_jaccard_pairs,
    with_minhash,
    with_simhash16,
)
from traval_spark.operators.multimodal import attach_payload, extract_features
from traval_spark.operators.similarity import (
    cosine_dup_pairs,
    cosine_topk,
    hyperplanes,
    lsh_topk,
)
from traval_spark.operators.text import lang_id, quality_columns, token_count_ws


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat"),          # exact dup of 0
        (2, "the cat sat on the red mat"),      # near dup of 0
        (3, "der hund ist nicht ein fisch"),
        (4, "le chat est avec une pomme"),
        (5, "completely different words entirely here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["min_doc_id"] == 0


def test_minhash_identical_docs_share_signature(docs):
    sig = {r["doc_id"]: (r["sig_0"], r["sig_1"], r["sig_2"], r["sig_3"])
           for r in with_minhash(docs).collect()}
    assert sig[0] == sig[1]
    assert sig[0] != sig[5]


def test_lsh_buckets_catch_exact_dups(docs):
    buckets = lsh_buckets(docs).collect()
    assert any(b["n_docs"] >= 2 and b["min_doc_id"] == 0 for b in buckets)


def test_ngram_jaccard(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0          # exact dup
    assert 0.3 <= pairs[(0, 2)] < 1.0    # near dup
    assert (0, 5) not in pairs


def test_simhash_near_dup_proximity(docs):
    sh = {r["doc_id"]: r["simhash"] for r in with_simhash16(docs).collect()}
    assert sh[0] == sh[1]
    hamming = bin(sh[0] ^ sh[2]).count("1")
    assert hamming <= 6  # near-dup stays close in hamming space


def test_lang_id(docs):
    langs = {r["doc_id"]: r["lang"] for r in
             docs.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert langs[0] == "en"
    assert langs[3] == "de"
    assert langs[4] == "fr"


def test_quality_columns(docs):
    cols = quality_columns(F.col("text"))
    row = docs.filter("doc_id = 0").select(
        *[v.alias(k) for k, v in cols.items()]
    ).collect()[0]
    assert row["n_tokens"] == 6
    assert row["stopword_ratio"] == pytest.approx(2 / 6, abs=1e-6)
    assert row["punct_ratio"] == 0.0


def test_token_counts(docs):
    n = docs.select(token_count_ws(F.col("text")).alias("n")).collect()
    assert [r["n"] for r in n][0] == 6


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    vecs[1] = vecs[0] + 0.01 * rng.normal(size=8).astype(np.float32)  # near dup
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_brute_force(emb):
    q = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    top = cosine_topk(emb, q, k=3).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cos"] == pytest.approx(1.0)
    assert top[1]["vec_id"] == 1  # the planted near-dup


def test_lsh_topk_contains_self_and_neardup(emb):
    q = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    top = lsh_topk(emb, q, k=3, n_planes=4).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 0 and 1 in ids  # near-identical vectors share buckets


def test_ivf_full_probe_equals_exact(emb):
    """nprobe = n_list searches every inverted list -> identical to the
    brute-force top-k (the recall knob only drops lists, never re-ranks)."""
    from traval_spark.operators.similarity import ivf_seed_centroids, ivf_topk

    q = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    exact = [(r["vec_id"], r["cos"]) for r in cosine_topk(emb, q, k=5).collect()]
    full = ivf_topk(emb, q, k=5, n_list=4, nprobe=4)
    assert [(r["vec_id"], r["cos"]) for r in full.collect()] == exact
    # assignment covers every row exactly once
    cents = ivf_seed_centroids(emb, n_list=4)
    from traval_spark.operators.similarity import ivf_assign_col

    assigned = emb.withColumn("cid", ivf_assign_col("embedding", cents))
    assert assigned.filter("cid IS NULL").count() == 0
    assert assigned.count() == emb.count()


def test_ivf_probe_finds_near_dup(emb):
    """The planted near-dup of vec 0 lands in the same list, so even a
    1-probe search returns it."""
    from traval_spark.operators.similarity import ivf_topk

    q = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    top = ivf_topk(emb, q, k=3, n_list=4, nprobe=1).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 0 and 1 in ids


def test_knn_join_batch_exact_and_ivf_degradation(emb):
    """knn_join: per-query top-k over the corpus equals the per-query
    cosine_topk answers; ivf_knn_join with nprobe = n_list probes every
    list and must equal the brute join exactly (fixed-index centroids
    included — the incremental ingest shape)."""
    from traval_spark.operators.similarity import (
        cosine_topk,
        ivf_knn_join,
        ivf_seed_centroids,
        knn_join,
    )

    queries = emb.filter("vec_id % 10 = 0")      # 5-query batch
    corpus = emb.filter("vec_id % 10 != 0")
    out = knn_join(queries, corpus, k=3)
    got = {(r["qid"], r["rank"]): (r["nn_id"], r["cos"])
           for r in out.collect()}
    assert len(got) == 5 * 3
    for qrow in queries.collect():
        qv = [float(x) for x in qrow["embedding"]]
        expect = cosine_topk(corpus, qv, k=3).collect()
        for r in expect:
            assert got[(qrow["vec_id"], r["rank"])] == (r["vec_id"], r["cos"])
    # the batch query's near-dup sanity: vec 0's batch row finds vec 1
    assert got[(0, 1)][0] == 1

    # full-probe IVF == brute, with centroids built ONCE from the corpus
    # and passed in fixed (a later batch reuses them without refit)
    cents = ivf_seed_centroids(corpus, n_list=4)
    full = ivf_knn_join(queries, corpus, k=3, n_list=4, nprobe=4,
                        centroids=cents)
    assert {(r["qid"], r["rank"]): (r["nn_id"], r["cos"])
            for r in full.collect()} == got


def test_unrolled_cosine_scores_wrong_length_vectors_null(spark):
    """The dim-unrolled dot/norm chains score a vector whose length is
    not ``dim`` NULL, as the higher-order fold does: a longer vector is
    not scored on its first ``dim`` elements, and a shorter one does not
    raise INVALID_ARRAY_INDEX under ANSI."""
    from traval_spark.operators.similarity import (
        cosine_dup_pairs,
        cosine_to_query,
        knn_join,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 5.0]), (3, [1.0, 0.0]),
         (4, [0.6, 0.8, 0.0])],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(0, [1.0, 0.0, 0.0])],
                                    "vec_id long, embedding array<double>")
    want = {1: 1.0, 2: None, 3: None, 4: 0.6}

    for dim in (3, None):
        got = {r["nn_id"]: r["cos"]
               for r in knn_join(queries, corpus, k=4, dim=dim).collect()}
        assert got == want, dim
    got = {r["vec_id"]: r["cos"]
           for r in cosine_to_query(corpus, [1.0, 0.0, 0.0]).collect()}
    assert got == want

    for dim in (3, None):
        pairs = {(r["a"], r["b"]): r["cos"] for r in cosine_dup_pairs(
            corpus, threshold=0.5, bucketed=False, dim=dim).collect()}
        assert pairs == {(1, 4): 0.6}, dim


def test_minhash_incremental_equals_restricted_full(spark):
    """minhash_incremental_pairs == lsh_banded_pairs restricted to pairs
    with >= 1 new member; corpus-vs-corpus pairs never surface."""
    from traval_spark.operators.dedup import (
        lsh_banded_pairs,
        minhash_incremental_pairs,
        with_minhash,
    )

    base = "the quick brown fox jumps over the lazy dog word%d extra tail"
    rows = [(i, base % (i % 4)) for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.filter("doc_id >= 18")
    corpus = docs.filter("doc_id < 18")

    full = {(r["a"], r["b"])
            for r in lsh_banded_pairs(docs, b=4, r=2).collect()}
    want = {(a, b) for a, b in full if a >= 18 or b >= 18}
    assert want and want < full  # both corpus-only and new-touching pairs exist

    inc = minhash_incremental_pairs(
        new, with_minhash(corpus, n_hashes=8), b=4, r=2)
    assert {(r["a"], r["b"]) for r in inc.collect()} == want


def test_cosine_dup_pairs_bucketed_subset_of_exact(emb):
    exact = {(r["a"], r["b"]) for r in
             cosine_dup_pairs(emb, threshold=0.9, bucketed=False).collect()}
    bucketed = {(r["a"], r["b"]) for r in
                cosine_dup_pairs(emb, threshold=0.9, bucketed=True,
                                 n_planes=4, dim=8).collect()}
    assert (0, 1) in exact
    assert bucketed <= exact  # LSH may miss cross-bucket pairs, never invent
    assert (0, 1) in bucketed  # near-identical vectors share all sign bits


def test_cosine_dup_pairs_bucketed_requires_dim(emb):
    with pytest.raises(ValueError, match="dim"):
        cosine_dup_pairs(emb, bucketed=True)


def test_cos_dup_multi_table_recall_superset(emb):
    """L independent plane sets OR'd together: pairs(single) <= pairs(L=3)
    <= pairs(exact) — the standard multi-table recall knob, with no
    invented pairs and no duplicates."""
    thr = 0.5  # low threshold: plenty of cross-bucket pairs to recover
    exact = {(r["a"], r["b"]) for r in
             cosine_dup_pairs(emb, threshold=thr, bucketed=False).collect()}
    single = {(r["a"], r["b"]) for r in
              cosine_dup_pairs(emb, threshold=thr, bucketed=True,
                               n_planes=8, dim=8).collect()}
    multi_rows = cosine_dup_pairs(emb, threshold=thr, bucketed=True,
                                  n_planes=8, dim=8, n_tables=3).collect()
    multi = {(r["a"], r["b"]) for r in multi_rows}
    assert len(multi_rows) == len(multi)  # OR across tables, distinct pairs
    assert single <= multi <= exact
    assert len(multi) > len(single)  # extra tables recovered real pairs


def test_semantic_dup_pairs_fixed_centroids_deterministic(emb):
    """SemDeDup pairs: with pinned centroids the pair set is exactly
    reproducible (two independent plans, identical rows), every pair is
    within one cluster, a subset of the exact quadratic pair set, and
    the planted near-dup (0, 1) is found."""
    from traval_spark.operators.similarity import (
        ivf_seed_centroids,
        semantic_dup_pairs,
    )

    thr = 0.5
    cents = ivf_seed_centroids(emb, n_list=4)
    rows1 = semantic_dup_pairs(emb, threshold=thr, centroids=cents).collect()
    rows2 = semantic_dup_pairs(emb, threshold=thr, centroids=cents).collect()
    got1 = {(r["a"], r["b"], r["cid"], r["cos"]) for r in rows1}
    got2 = {(r["a"], r["b"], r["cid"], r["cos"]) for r in rows2}
    assert got1 == got2 and len(rows1) == len(got1)
    exact = {(r["a"], r["b"]) for r in
             cosine_dup_pairs(emb, threshold=thr, bucketed=False).collect()}
    assert {(a, b) for a, b, _, _ in got1} <= exact
    assert (0, 1) in {(a, b) for a, b, _, _ in got1}  # near-dup co-clusters


def test_semantic_keep_prunes_one_per_pair(emb):
    """Keep rule: no semantic-dup pair survives with BOTH members kept;
    the removed member is always the pair's higher-centroid-cosine side
    (ties: larger id); ids touching no pair are all kept."""
    from traval_spark.operators.similarity import (
        semantic_dup_pairs,
        semantic_keep_ids,
    )

    thr = 0.5
    pairs = semantic_dup_pairs(emb, threshold=thr).collect()
    assert pairs  # the rule needs something to prune
    kept = {r["vec_id"] for r in
            semantic_keep_ids(emb, threshold=thr).collect()}
    losers = set()
    for r in pairs:
        assert not (r["a"] in kept and r["b"] in kept)
        if r["a_ccos"] > r["b_ccos"]:
            losers.add(r["a"])
        elif r["a_ccos"] < r["b_ccos"]:
            losers.add(r["b"])
        else:
            losers.add(max(r["a"], r["b"]))
    all_ids = set(range(50))
    assert kept == all_ids - losers


def test_semantic_incremental_union_equals_full(emb):
    """Daily-ingest invariant: splitting the corpus into 3 arrival
    batches and running semantic_incremental_pairs per batch (index
    frozen at the initial centroids, corpus table grown by each batch's
    assignment) yields EXACTLY the full-corpus semantic pair set at the
    same centroids — every pair surfaces when its later member arrives,
    none twice."""
    from traval_spark.operators.similarity import (
        ivf_seed_centroids,
        semantic_dup_pairs,
        semantic_incremental_pairs,
        with_semantic_assignment,
    )

    thr = 0.5
    cents = ivf_seed_centroids(emb.filter("vec_id < 17"), n_list=4)
    want = {(r["a"], r["b"], r["cid"], r["cos"]) for r in
            semantic_dup_pairs(emb, threshold=thr, centroids=cents)
            .collect()}

    spark = emb.sparkSession
    corpus = with_semantic_assignment(
        emb.filter("vec_id < 0"), cents
    )  # empty start
    got: list = []
    for lo, hi in [(0, 17), (17, 34), (34, 50)]:
        batch = emb.filter(f"vec_id >= {lo} and vec_id < {hi}")
        rows = semantic_incremental_pairs(
            batch, corpus, cents, threshold=thr
        ).collect()
        got.extend(rows)
        corpus = corpus.unionByName(
            with_semantic_assignment(batch, cents)
        ).localCheckpoint()
    tuples = [(r["a"], r["b"], r["cid"], r["cos"]) for r in got]
    assert len(tuples) == len(set(tuples))  # no pair emitted twice
    assert set(tuples) == want


def test_lloyd_refine_deterministic_and_tightens(emb):
    """Distributed Lloyd passes are deterministic, keep the cid space
    stable, and do not increase the mean distance to the assigned
    centroid (k-means' monotone objective)."""
    from traval_spark.operators.similarity import (
        ivf_assign_struct,
        ivf_seed_centroids,
        lloyd_refine,
    )

    cents = ivf_seed_centroids(emb, n_list=4)
    ref = lloyd_refine(emb, cents, iters=2)
    assert ref == lloyd_refine(emb, cents, iters=2)
    assert [cid for cid, _ in ref] == [cid for cid, _ in cents]
    assert ref != cents

    def mean_ccos(cs):
        return emb.select(
            ivf_assign_struct("embedding", cs)["ccos"].alias("c")
        ).agg(F.avg("c")).first()[0]

    # cosine objective: refined centroids explain their members at least
    # as well on average (strictly better on this random cloud)
    assert mean_ccos(ref) > mean_ccos(cents)


def test_kmeans_refine_rounded_trajectory_and_artifact(emb):
    """kmeans_refine is lloyd_refine's trajectory with every component
    mean rounded: iterating with mean_digits large enough to be lossless
    reproduces lloyd_refine exactly; kmeans_components exposes the SAME
    centroids long-form with sizes that total the corpus."""
    from traval_spark.operators.similarity import (
        ivf_seed_centroids,
        kmeans_components,
        kmeans_refine,
        lloyd_refine,
    )

    cents = ivf_seed_centroids(emb, n_list=4)
    # at 12 rounded digits the trajectory cannot diverge from the exact
    # one on this well-separated cloud: same assignments, means equal to
    # the rounding grid
    wide = kmeans_refine(emb, k=4, iters=2, centroids=cents,
                         mean_digits=12)
    exact = lloyd_refine(emb, cents, iters=2)
    assert [cid for cid, _ in wide] == [cid for cid, _ in exact]
    for (_, cw), (_, ce) in zip(wide, exact):
        assert cw == pytest.approx(ce, abs=1e-11)

    ref = kmeans_refine(emb, k=4, iters=2, centroids=cents)
    assert ref == kmeans_refine(emb, k=4, iters=2, centroids=cents)
    assert [cid for cid, _ in ref] == [cid for cid, _ in cents]
    # every component carries the 6dp contract
    assert all(round(m, 6) == m for _, c in ref for m in c)

    comp = kmeans_components(emb, k=4, iters=2, centroids=cents).collect()
    assert len(comp) == 4 * 8  # k x dim long form
    got = {}
    sizes = {}
    for r in comp:
        got.setdefault(r["cid"], {})[r["dim"]] = r["m"]
        sizes[r["cid"]] = r["n"]
    assert sum(sizes.values()) == emb.count()
    for cid, c in ref:
        assert [got[cid][d] for d in range(8)] == c


def test_kmeans_empty_cluster_carry(spark):
    """A centroid that attracts no members keeps its previous position
    and reports n = 0 — cid space is a contract with the IVF servers."""
    from traval_spark.operators.similarity import kmeans_components

    # two tight groups on the axes; a third seed points at -x and loses
    # every vector to the 0/1 seeds from pass one onward
    rows = [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0])
            for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = [(0, [1.0, 0.1]), (1, [0.1, 1.0]), (2, [-1.0, -1.0])]
    comp = kmeans_components(emb, iters=2, centroids=seeds).collect()
    by = {(r["cid"], r["dim"]): r for r in comp}
    assert by[(2, 0)]["n"] == 0
    assert [by[(2, d)]["m"] for d in range(2)] == [-1.0, -1.0]
    assert by[(0, 0)]["n"] == 5 and by[(1, 0)]["n"] == 5
    assert by[(0, 0)]["m"] == 1.0 and by[(0, 1)]["m"] == 0.0


def test_hyperplanes_deterministic():
    assert hyperplanes(2, 4, seed=42) == hyperplanes(2, 4, seed=42)
    assert hyperplanes(2, 4, seed=42) != hyperplanes(2, 4, seed=43)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_multimodal_fake_features(docs):
    d = attach_payload(docs)
    feats = extract_features(d).collect()
    assert len(feats) == docs.count()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[0]["n_bytes"] == len("the cat sat on the mat")
    assert len(by_id[0]["features"]) == 4
    # deterministic fake: identical payloads -> identical features
    assert by_id[0]["features"] == by_id[1]["features"]
    assert all(0.0 <= x < 1.0 for x in by_id[0]["features"])


def test_multimodal_raise_stub(docs):
    d = attach_payload(docs)
    with pytest.raises(Exception, match="media decode requires"):
        extract_features(d, decode_stub="raise").collect()


def test_ngram_jaccard_skew_cap(spark):
    """A single ultra-hot shingle (present in EVERY doc) must be droppable
    from the inverted index via max_shingle_df without losing true dup
    pairs: the hot shingle alone would contribute n^2 join rows — the
    whole job at web scale."""
    from traval_spark.operators.dedup import ngram_jaccard_pairs, shingles

    n = 60
    rows = []
    for i in range(n):
        # every doc opens with the same 3-token (hot) shingle
        rows.append((i, f"hot hot hot uniq{i} mid{i} tail{i}"))
    for i in range(5):  # true duplicates of docs 0..4
        rows.append((1000 + i, f"hot hot hot uniq{i} mid{i} tail{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # the hot shingle really is hot: df == n + 5 docs
    inv = docs.select(
        F.explode(shingles(F.col("text"), 3)).alias("s")
    ).groupBy("s").count()
    assert inv.agg(F.max("count")).collect()[0][0] == n + 5

    capped = ngram_jaccard_pairs(docs, threshold=0.5, k=3,
                                 max_shingle_df=10)
    pairs = {(r["a"], r["b"]) for r in capped.collect()}
    assert pairs == {(i, 1000 + i) for i in range(5)}

    # with the cap, no surviving shingle exceeds the df bound: the join's
    # largest per-key bucket is provably <= max_shingle_df
    surviving = (
        docs.select("doc_id", F.explode(shingles(F.col("text"), 3)).alias("s"))
        .groupBy("s").count().filter(F.col("count") <= 10)
    )
    assert surviving.agg(F.max("count")).collect()[0][0] <= 10


def test_simhash64_banding_equals_bruteforce(spark):
    """4x16 banding is pigeonhole-exact for hamming <= 3: bucketed search
    returns the identical pair set as the quadratic Hamming filter."""
    from traval_spark.operators.dedup import simhash64_dup_pairs, with_simhash64

    rows = [(i, f"alpha beta gamma delta w{i} x{i} y{i} z{i}")
            for i in range(40)]
    rows += [(2000 + i, f"alpha beta gamma delta w{i} x{i} y{i} z{i} qq")
             for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {(r["a"], r["b"], r["hamming"])
              for r in simhash64_dup_pairs(docs, max_hamming=3).collect()}

    fp = with_simhash64(docs).collect()
    brute = set()
    for i, ra in enumerate(fp):
        for rb in fp[i + 1:]:
            a, b = sorted((ra["doc_id"], rb["doc_id"]))
            ham = bin((ra["fp_lo"] ^ rb["fp_lo"])).count("1") + bin(
                (ra["fp_hi"] ^ rb["fp_hi"])).count("1")
            if ham <= 3:
                brute.add((a, b, ham))
    assert banded == brute and len(brute) > 0


def test_multimodal_resize(docs):
    from traval_spark.operators.multimodal import resize_images

    d = attach_payload(docs)
    out = resize_images(d, width=8, height=4).collect()
    assert len(out) == docs.count()
    by_id = {r["doc_id"]: r for r in out}
    assert all(len(r["payload"]) == 8 * 4 for r in out)
    assert (by_id[0]["width"], by_id[0]["height"]) == (8, 4)
    # deterministic keystream: identical payloads -> identical resized bytes
    assert bytes(by_id[0]["payload"]) == bytes(by_id[1]["payload"])


def test_multimodal_frame_sampling(docs):
    from traval_spark.operators.multimodal import sample_frames

    d = attach_payload(docs)
    out = sample_frames(d, every_ms=1000, max_frames=5).collect()
    # 1 -> N expansion: more frame rows than docs, each doc >= 1 frame
    assert len(out) >= docs.count()
    import collections

    per_doc = collections.Counter(r["doc_id"] for r in out)
    assert set(per_doc) == set(range(docs.count()))
    assert all(1 <= c <= 5 for c in per_doc.values())
    frames0 = sorted((r for r in out if r["doc_id"] == 0),
                     key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in frames0] == [i * 1000 for i in
                                             range(len(frames0))]
    assert all(len(r["frame"]) == 16 for r in out)


def test_multimodal_resize_raise_stub(docs):
    from traval_spark.operators.multimodal import resize_images, sample_frames

    d = attach_payload(docs)
    with pytest.raises(Exception, match="image decode"):
        resize_images(d, decode_stub="raise").collect()
    with pytest.raises(Exception, match="video demux"):
        sample_frames(d, decode_stub="raise").collect()


def test_multimodal_auto_mode_contract(docs):
    """'auto' probes for the real decoder per worker: without PIL/PyAV
    (this image) every kernel equals its deterministic fake; with the
    libs installed it decodes real media and still falls back to the
    fake for payloads that are not decodable media (our text payloads),
    so the equality below holds in BOTH environments."""
    from traval_spark.operators.multimodal import (
        resize_images,
        sample_frames,
    )

    d = attach_payload(docs)
    fake = {r["doc_id"]: r for r in extract_features(d).collect()}
    auto = {r["doc_id"]: r for r in
            extract_features(d, decode_stub="auto").collect()}
    assert fake.keys() == auto.keys()
    for k in fake:
        assert list(fake[k]["features"]) == list(auto[k]["features"])

    fake_r = {r["doc_id"]: bytes(r["payload"])
              for r in resize_images(d, width=8, height=4).collect()}
    auto_r = {r["doc_id"]: bytes(r["payload"])
              for r in resize_images(d, width=8, height=4,
                                     decode_stub="auto").collect()}
    assert fake_r == auto_r

    fake_f = {(r["doc_id"], r["frame_idx"]): r["ts_ms"]
              for r in sample_frames(d).collect()}
    auto_f = {(r["doc_id"], r["frame_idx"]): r["ts_ms"]
              for r in sample_frames(d, decode_stub="auto").collect()}
    assert fake_f == auto_f


def test_multimodal_real_decoders_when_libs_exist():
    """Unit-cover the real decode helpers — skipped where the media libs
    are absent (this sandbox), exercised for real off-sandbox."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    from traval_spark.operators.multimodal import (
        pil_image_features,
        pil_resize_payload,
    )

    img = PIL.new("L", (10, 6), color=128)
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    raw = buf.getvalue()
    feats = pil_image_features(raw, 4)
    assert list(feats[:3]) == [10.0, 6.0, 128.0]
    resized = pil_resize_payload(raw, 4, 3)
    assert len(resized) == 12 and set(resized) == {128}


def test_repetition_metrics_exact(spark):
    from traval_spark.operators.text import (
        repetition_columns,
        top_bigram_fraction,
    )

    rows = [
        (0, "a b a b a b"),       # 6 words, 2 distinct; top bigram "a b" x3
        (1, "x y z"),             # no repeats; bigrams "x y","y z" tie -> "x y"
        (2, "solo"),              # 1 word: no bigrams -> fraction 0, NULL bg
        (3, None),                # NULL text: NULL metrics, not 0.0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    per = {r["doc_id"]: r for r in docs.select(
        "doc_id", *[v.alias(k) for k, v in
                    repetition_columns(F.col("text")).items()]
    ).collect()}
    assert per[0]["n_words"] == 6
    assert per[0]["dup_word_fraction"] == pytest.approx(1 - 2 / 6, abs=1e-6)
    assert per[0]["mean_word_length"] == 1.0
    assert per[1]["dup_word_fraction"] == 0.0
    assert per[2]["n_words"] == 1 and per[2]["dup_word_fraction"] == 0.0

    top = {r["doc_id"]: r for r in top_bigram_fraction(docs).collect()}
    # "a b a b a b" (11 chars): "a b" occurs 3x as a bigram, len 3 -> 9/11
    assert top[0]["top_bigram"] == "a b"
    assert top[0]["top_bigram_char_fraction"] == pytest.approx(9 / 11,
                                                               abs=1e-6)
    assert top[1]["top_bigram"] == "x y"  # count tie -> lexicographic
    assert top[2]["top_bigram"] is None
    assert top[2]["top_bigram_char_fraction"] == 0.0
    # NULL text: NULL across BOTH repetition_columns and the bigram
    # fraction (one consistent missing-doc semantics — ADVICE r3)
    assert per[3]["n_words"] is None
    assert top[3]["top_bigram"] is None
    assert top[3]["top_bigram_char_fraction"] is None


def test_dup_clusters_chain_and_singletons(spark):
    """A diameter-3 chain converges to one cluster, disconnected
    pairs/singletons keep their own components."""
    from traval_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "a long, b long")
    out = {r["doc_id"]: r["cluster"]
           for r in dup_clusters(docs, pairs).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}
    # representatives = rows whose label is their own id
    reps = {k for k, v in out.items() if k == v}
    assert reps == {0, 4, 5, 7}


def test_dup_clusters_string_ids_and_nonconvergence(spark):
    from traval_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame(
        [(f"doc_{i}",) for i in range(5)], "doc_id string")
    pairs = spark.createDataFrame(
        [("doc_0", "doc_1"), ("doc_3", "doc_4")], "a string, b string")
    out = {r["doc_id"]: r["cluster"]
           for r in dup_clusters(docs, pairs).collect()}
    assert out == {"doc_0": "doc_0", "doc_1": "doc_0", "doc_2": "doc_2",
                   "doc_3": "doc_3", "doc_4": "doc_3"}

    chain_docs = spark.createDataFrame([(i,) for i in range(6)],
                                       "doc_id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "a long, b long")
    with pytest.raises(RuntimeError, match="converge"):
        dup_clusters(chain_docs, chain, max_iter=2)


def test_dup_clusters_degenerate_graphs(spark):
    """Empty pair set -> all self-labels; self-loops and duplicate pairs
    (both orders) are absorbed without phantom clusters."""
    from traval_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    empty = spark.createDataFrame([], "a long, b long")
    out = {r["doc_id"]: r["cluster"]
           for r in dup_clusters(docs, empty).collect()}
    assert out == {i: i for i in range(4)}

    messy = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2), (3, 3)], "a long, b long")
    out = {r["doc_id"]: r["cluster"]
           for r in dup_clusters(docs, messy).collect()}
    assert out == {0: 0, 1: 1, 2: 1, 3: 3}


def test_dup_clusters_star_handles_long_chain(spark):
    """A diameter-120 chain (far beyond max_iter=20 rounds of min-label
    propagation) converges in O(log n) star rounds."""
    from traval_spark.operators.dedup import (
        connected_components,
        dup_clusters,
    )

    n = 121
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "a long, b long")
    out = {r["doc_id"]: r["cluster"]
           for r in dup_clusters(docs, chain).collect()}
    assert out == {i: 0 for i in range(n)}

    _, rounds = connected_components(chain)
    assert rounds <= 15  # ~log(121) star rounds + confirmation, not 120


def _union_find_min_labels(nodes, edges):
    """Reference labels: every node -> the min id of its connected
    component, by a plain union-find (no Spark)."""
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in nodes}


def test_dup_clusters_star_equals_union_find_random(spark):
    """Random sparse graphs: every doc's star label == the min id of its
    component from an independent union-find, for long ids (three seeds)
    and string ids (whose order is not the numeric one: "d10" < "d9")."""
    import numpy as np

    from traval_spark.operators.dedup import dup_clusters

    n = 200
    for seed, key, ddl in ((42, int, "long"), (7, int, "long"),
                           (2024, int, "long"),
                           (42, lambda i: f"d{i}", "string")):
        rng = np.random.default_rng(seed)
        edges = {(key(int(a)), key(int(b)))
                 for a, b in rng.integers(0, n, (180, 2)) if a != b}
        nodes = [key(i) for i in range(n)]
        docs = spark.createDataFrame([(x,) for x in nodes], f"doc_id {ddl}")
        pairs = spark.createDataFrame(sorted(edges), f"a {ddl}, b {ddl}")
        got = {r["doc_id"]: r["cluster"]
               for r in dup_clusters(docs, pairs).collect()}
        assert got == _union_find_min_labels(nodes, edges), (seed, ddl)


def test_hot_bucket_cap_discloses_and_bounds(spark, caplog):
    """Adversarial constant-text corpus: every doc shares one fingerprint,
    so one band bucket holds the whole corpus (f^2 candidates). With
    max_bucket_size the oversize bucket is dropped WITH a logged
    disclosure; a generous cap leaves results exact."""
    import logging

    from traval_spark.operators.dedup import (
        lsh_banded_pairs,
        simhash64_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "the same text in every doc") for i in range(30)],
        "doc_id long, text string")
    assert simhash64_dup_pairs(docs).count() == 30 * 29 // 2

    with caplog.at_level(logging.WARNING, logger="traval_spark.dedup"):
        capped = simhash64_dup_pairs(docs, max_bucket_size=5)
        assert capped.count() == 0
    assert "max_bucket_size=5" in caplog.text and "dropping" in caplog.text

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="traval_spark.dedup"):
        generous = simhash64_dup_pairs(docs, max_bucket_size=100)
        assert generous.count() == 30 * 29 // 2
    assert caplog.text == ""  # under-cap corpus: exact, no disclosure

    with caplog.at_level(logging.WARNING, logger="traval_spark.dedup"):
        lsh_capped = lsh_banded_pairs(docs, max_bucket_size=5)
        assert lsh_capped.count() == 0
    assert "lsh_banded_pairs" in caplog.text


def test_simhash64_incremental_equals_restricted_full(spark):
    """Incremental new-vs-corpus pairs == full banded pair set restricted
    to pairs with >= 1 new member (new-new AND new-corpus both included,
    corpus-corpus never re-paired)."""
    from traval_spark.operators.dedup import (
        simhash64_dup_pairs,
        simhash64_incremental_pairs,
        with_simhash64,
    )

    base = [(i, f"alpha beta gamma delta doc {i // 3}") for i in range(24)]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    new = docs.filter(F.col("doc_id") % 4 == 0)
    corpus_fp = with_simhash64(docs.filter(F.col("doc_id") % 4 != 0))

    inc = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in simhash64_incremental_pairs(new, corpus_fp,
                                             max_hamming=3).collect()
    )
    full = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in simhash64_dup_pairs(docs, max_hamming=3).collect()
        if r["a"] % 4 == 0 or r["b"] % 4 == 0
    )
    assert inc == full and len(inc) > 0
    # corpus-corpus pairs exist in full but must be absent incrementally
    assert any(r["a"] % 4 != 0 and r["b"] % 4 != 0
               for r in simhash64_dup_pairs(docs, max_hamming=3).collect())


def test_top_bigram_fraction_caps_overlapping_repeats(spark):
    from traval_spark.operators.text import top_bigram_fraction

    docs = spark.createDataFrame([(0, "a a a a a")],
                                 "doc_id long, text string")
    row = top_bigram_fraction(docs).collect()[0]
    # 'a a' occurs 4x overlapping (mass 12 > 9 chars): capped at 1.0
    assert row["top_bigram"] == "a a"
    assert row["top_bigram_char_fraction"] == 1.0


def test_repetition_columns_null_text(spark):
    from traval_spark.operators.text import repetition_columns

    docs = spark.createDataFrame([(0, None), (1, "x y")],
                                 "doc_id long, text string")
    cols = repetition_columns(F.col("text"))
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", *[v.alias(k) for k, v in cols.items()]).collect()}
    assert rows[0]["n_words"] is None
    assert rows[0]["dup_word_fraction"] is None
    assert rows[1]["n_words"] == 2


def test_filter_documents_gates_and_null_fail_closed(spark):
    from traval_spark.operators.text import filter_documents

    docs = spark.createDataFrame(
        [
            (0, "alpha bravo charlie delta echo foxtrot"),  # clean
            (1, "spam spam spam spam spam spam"),           # dup words + bigram
            (2, "hi"),                                      # too short
            (3, None),                                      # NULL text
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in filter_documents(
        docs, min_words=3, max_words=100,
        mean_word_length_range=(1.0, 10.0),
        max_dup_word_fraction=0.5, max_top_bigram_fraction=0.5,
        allowed_langs=None,
    ).collect()}
    assert out[0]["kept"] and not any(
        out[0][f] for f in ["f_short", "f_dup_words", "f_top_bigram"])
    assert not out[1]["kept"] and out[1]["f_dup_words"] \
        and out[1]["f_top_bigram"]
    assert not out[2]["kept"] and out[2]["f_short"]
    # NULL text fails CLOSED: kept false, every gate flag NULL (tri-state,
    # never silently false), disabled lang gate included
    assert not out[3]["kept"]
    for f in ["f_short", "f_long", "f_word_len", "f_dup_words",
              "f_top_bigram", "f_lang"]:
        assert out[3][f] is None, f

    # disabling every gate keeps everything except NULL text
    allpass = {r["doc_id"]: r["kept"] for r in filter_documents(
        docs, min_words=None, max_words=None,
        mean_word_length_range=None, max_dup_word_fraction=None,
        max_top_bigram_fraction=None, allowed_langs=None,
    ).collect()}
    assert allpass == {0: True, 1: True, 2: True, 3: False}


# ---------------------------------------------------------------------------
# token-sequence dedup (the pre-tokenized graft input shape)
# ---------------------------------------------------------------------------


def test_exact_token_dedup_on_synth_sequences(spark):
    """exact_token_dup_groups over the real array<int32> input: planted
    copies group with their originals, nothing else groups."""
    from traval_spark.operators.dedup import exact_token_dup_groups
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 200, seed=7)
    dup = seqs.limit(20).withColumn(
        "doc_id", F.concat(F.lit("dup-"), F.col("doc_id"))
    )
    groups = exact_token_dup_groups(seqs.unionByName(dup)).collect()
    assert len(groups) == 20
    assert all(r["n_docs"] == 2 for r in groups)
    # representative is always the original (min over 'doc-…' < 'dup-…')
    assert all(r["min_doc_id"].startswith("doc-") for r in groups)


def test_token_minhash_identical_sequences_share_signature(spark):
    from traval_spark.operators.dedup import with_minhash_tokens
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 30, seed=5)
    dup = seqs.limit(5).withColumn(
        "doc_id", F.concat(F.lit("dup-"), F.col("doc_id"))
    )
    sig = {r["doc_id"]: (r["sig_0"], r["sig_1"], r["sig_2"], r["sig_3"])
           for r in with_minhash_tokens(seqs.unionByName(dup)).collect()}
    for r in seqs.limit(5).collect():
        assert sig[r["doc_id"]] == sig["dup-" + r["doc_id"]]


def test_token_lsh_pairs_find_appended_near_dups(spark):
    """Appending two tokens to a long sequence leaves shingle Jaccard
    high; (b=4, r=2) banding must bucket every planted near-dup with its
    original (deterministic — fixed hashes, fixed seed)."""
    from traval_spark.operators.dedup import token_lsh_banded_pairs
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 100, seed=11).filter(F.col("n_tok") >= 40)
    nd = seqs.limit(10).select(
        F.concat(F.lit("nd-"), F.col("doc_id")).alias("doc_id"),
        F.concat(
            F.col("tokens"),
            F.array(F.lit(1).cast("int"), F.lit(2).cast("int")),
        ).alias("tokens"),
        (F.col("n_tok") + F.lit(2)).cast("int").alias("n_tok"),
        F.col("source"),
        F.col("ts"),
    )
    pairs = token_lsh_banded_pairs(seqs.unionByName(nd), b=4, r=2, k=3)
    found = {(r["a"], r["b"]) for r in pairs.collect()}
    for r in seqs.limit(10).collect():
        assert (r["doc_id"], "nd-" + r["doc_id"]) in found


def test_contaminated_docs_flags_and_broadcasts(spark):
    from traval_spark.operators.dedup import contaminated_docs
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 60, seed=13).filter(F.col("n_tok") >= 6)
    bench = seqs.limit(3)
    got = contaminated_docs(seqs, bench, k=3)
    flagged = {r["doc_id"]: r["n_shared"] for r in got.collect()}
    # every benchmark member is (trivially) fully contaminated with itself
    for r in bench.collect():
        assert flagged[r["doc_id"]] > 0
    # the benchmark shingle set rides a broadcast join, corpus unshuffled
    assert "BroadcastHashJoin" in got._jdf.queryExecution().executedPlan().toString()


def test_contaminated_docs_clean_corpus_empty(spark):
    from traval_spark.operators.dedup import contaminated_docs

    corpus = spark.createDataFrame(
        [("c0", [1, 2, 3, 4, 5])], "doc_id string, tokens array<int>"
    )
    bench = spark.createDataFrame(
        [("b0", [9, 9, 9, 9, 9])], "doc_id string, tokens array<int>"
    )
    assert contaminated_docs(corpus, bench, k=3).count() == 0


def test_ngram_novelty_exact_fractions(spark):
    from traval_spark.operators.dedup import ngram_novelty, token_shingles

    corpus = spark.createDataFrame(
        [("c0", [1, 2, 3, 4, 5])], "doc_id string, tokens array<int>"
    )
    new = spark.createDataFrame(
        [
            ("n_full", [1, 2, 3, 4, 5]),   # every shingle seen
            ("n_half", [1, 2, 3, 9, 9]),   # 1 of 3 shingles seen
            ("n_new", [7, 8, 9, 10]),      # nothing seen
        ],
        "doc_id string, tokens array<int>",
    )
    got = {r["doc_id"]: r for r in ngram_novelty(new, corpus, k=3).collect()}
    assert got["n_full"]["n_grams"] == 3 and got["n_full"]["novelty"] == 0.0
    assert got["n_half"]["n_seen"] == 1
    assert got["n_half"]["novelty"] == round(1 - 1 / 3, 6)
    assert got["n_new"]["n_seen"] == 0 and got["n_new"]["novelty"] == 1.0
    # persisted-index path: identical output from a shingle frame
    idx = corpus.select(
        F.explode(token_shingles(F.col("tokens"), 3)).alias("shingle")
    ).distinct()
    got2 = {
        r["doc_id"]: r
        for r in ngram_novelty(
            new, idx, k=3, corpus_is_shingles=True
        ).collect()
    }
    for k in got:
        assert got[k]["novelty"] == got2[k]["novelty"]
        assert got[k]["n_seen"] == got2[k]["n_seen"]


def test_token_repetition_fraction_exact_values(spark):
    from traval_spark.operators.text import token_repetition_fraction

    df = spark.createDataFrame(
        [
            ("all_distinct", [1, 2, 3, 4]),
            ("period_two", [1, 2, 1, 2, 1]),
            ("single", [7]),
            ("null_tokens", None),
        ],
        "doc_id string, tokens array<int>",
    )
    got = {r["doc_id"]: r["rep"] for r in df.select(
        "doc_id", token_repetition_fraction(F.col("tokens"), 2).alias("rep")
    ).collect()}
    assert got["all_distinct"] == 0.0
    assert got["period_two"] == 0.5   # bigrams 1-2,2-1,1-2,2-1 -> 2/4 repeats
    assert got["single"] == 0.0
    assert got["null_tokens"] is None


def test_recency_budget_newest_first_and_straddle(spark):
    from traval_spark.operators.sampling import recency_budget

    df = spark.createDataFrame(
        [
            # (id, source, n_tok, bucket); ts axis = id
            (1, "A", 10, 1),
            (2, "A", 10, 2),
            (3, "A", 5, 2),
            (4, "A", 10, 0),
            (5, "B", 99, 0),
        ],
        "doc_id int, source string, n_tok int, bucket int",
    )
    out = recency_budget(
        df, {"A": 18}, bucket_col="bucket", ts_col="doc_id"
    )
    kept = {r["doc_id"] for r in out.collect()}
    # consumption order: bucket 2 (id 3 then 2), bucket 1 (id 1),
    # bucket 0 (id 4); budget 18 -> 3 and 2 fit (15), 1 straddles
    # (before=15 < 18, kept), 4 is beyond (before=25, dropped)
    assert kept == {1, 2, 3, 5}  # B has no budget: kept whole


def test_contract_checks_counts_and_null_semantics(spark):
    from traval_spark.operators.contract import (
        column_checks,
        contract_report,
        fk_check,
        unique_check,
    )

    t = spark.createDataFrame(
        [
            (1, "O", 10.0),
            (2, "X", -5.0),     # bad enum, bad range
            (3, None, None),    # NULL enum passes accepted; NULL range passes
            (1, "F", 20.0),     # duplicate key
            (None, "P", 30.0),  # null key: not_null fires; unique ignores? no
        ],
        "k int, status string, price double",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    rep = contract_report(
        [
            column_checks(
                t,
                {
                    "k_not_null": F.col("k").isNotNull(),
                    "status_accepted": F.col("status").isin("O", "F", "P"),
                    "price_positive": F.col("price") > 0,
                },
            ),
            unique_check(t, ("k",), "k_unique"),
            fk_check(t, "k", parent, "pk", "k_fk"),
        ]
    )
    got = {r["check"]: r["n_violations"] for r in rep.collect()}
    assert got["k_not_null"] == 1
    # NULL status is not a FALSE predicate -> passes accepted_values
    assert got["status_accepted"] == 1
    assert got["price_positive"] == 1
    # 5 rows, distinct keys {1, 2, 3, NULL} -> 1 duplicate row
    assert got["k_unique"] == 1
    # keys 3 (no parent) and NULL (unresolvable) violate the fk
    assert got["k_fk"] == 2


def test_gram_growth_first_seen_only(spark):
    from traval_spark.operators.dedup import gram_growth

    df = spark.createDataFrame(
        [
            ("a", 0, [1, 2, 3, 4]),       # grams "1 2 3", "2 3 4"
            ("b", 1, [2, 3, 4, 5]),       # "2 3 4" seen, "3 4 5" new
            ("c", 1, [1, 2, 3]),          # all seen in cohort 0
        ],
        "doc_id string, cohort int, tokens array<int>",
    )
    got = {r["cohort"]: r for r in gram_growth(df, "cohort", k=3).collect()}
    assert got[0]["new_grams"] == 2 and got[0]["vocab_size"] == 2
    assert got[1]["new_grams"] == 1 and got[1]["vocab_size"] == 3


def test_burst_dedup_transitive_and_deterministic(spark):
    import datetime as dt

    from traval_spark.rollup import burst_dedup

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # chained burst: 0m, 4m, 8m with 5m gap -> ONE burst (transitive)
        (1, "click", t0, 103),
        (1, "click", t0 + 4 * m, 101),
        (1, "click", t0 + 8 * m, 102),
        # isolated event 20m later -> own row
        (1, "click", t0 + 20 * m, 104),
        # equal-ts tie: keep the smaller ident
        (2, "view", t0, 202),
        (2, "view", t0, 201),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_type string, ts timestamp, event_id int"
    )
    got = sorted(
        burst_dedup(df, gap="5m").collect(),
        key=lambda r: (r["user_id"], r["first_ts"]),
    )
    assert len(got) == 3
    burst, lone, tie = got[0], got[1], got[2]
    assert burst["first_ident"] == 103 and burst["n_dropped"] == 2
    assert lone["first_ident"] == 104 and lone["n_dropped"] == 0
    assert tie["first_ident"] == 201 and tie["n_dropped"] == 1


def test_vocab_coverage_hand_values(spark):
    from traval_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [("a", [1, 1, 2]), ("b", [1, 3])],
        "doc_id string, tokens array<int>",
    )
    rows = {r["rank"]: r for r in vocab_coverage(df, top_n=10).collect()}
    # counts: 1 -> 3, 2 -> 1, 3 -> 1; total 5; ties by token id
    assert rows[1]["token"] == 1 and rows[1]["cnt"] == 3
    assert rows[1]["cum_frac"] == 0.6
    assert rows[2]["token"] == 2 and rows[2]["cum_frac"] == 0.8
    assert rows[3]["token"] == 3 and rows[3]["cum_frac"] == 1.0


def test_stratified_holdout_exact_quotas(spark):
    from traval_spark.operators.sampling import stratified_holdout

    rows = [(f"a{i}", "A") for i in range(10)] + [
        (f"b{i}", "B") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    out = stratified_holdout(df, 0.25, by="source", id_col="doc_id")
    got = out.groupBy("source", "split").count().collect()
    c = {(r["source"], r["split"]): r["count"] for r in got}
    # ceil(10 * 0.25) = 3 val in A, ceil(3 * 0.25) = 1 val in B
    assert c[("A", "val")] == 3 and c[("A", "train")] == 7
    assert c[("B", "val")] == 1 and c[("B", "train")] == 2
    # deterministic and identical to the single-window legacy plan
    legacy = stratified_holdout(
        df, 0.25, by="source", id_col="doc_id", salt_buckets=None
    )
    a = {(r["doc_id"], r["split"]) for r in out.collect()}
    b = {(r["doc_id"], r["split"]) for r in legacy.collect()}
    assert a == b


def test_slo_burn_multiwindow_rule(spark):
    import datetime as dt

    from traval_spark.operators.monitor import slo_burn

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # hour 0: 10 events, 5 errors -> burn_short 5.0 (budget 0.1)
    for i in range(10):
        rows.append((t0 + dt.timedelta(minutes=i), i < 5))
    # hour 1: 10 events, 0 errors -> burn_short 0, but trailing
    # 2-bucket burn = 5/20/0.1 = 2.5 -> long alone must NOT alert
    for i in range(10):
        rows.append((t0 + dt.timedelta(hours=1, minutes=i), False))
    df = spark.createDataFrame(rows, "ts timestamp, is_err boolean")
    out = {
        r["window_start"].hour: r
        for r in slo_burn(
            df,
            is_error=F.col("is_err"),
            budget=0.1,
            window="1h",
            long_windows=2,
            threshold=2.0,
        ).collect()
    }
    assert out[0]["burn_short"] == 5.0 and out[0]["burn_long"] == 5.0
    assert out[0]["alert"] == 1
    assert out[1]["burn_short"] == 0.0 and out[1]["burn_long"] == 2.5
    assert out[1]["alert"] == 0  # short window already recovered


def test_sampling_determinism_and_mixture(spark):
    from traval_spark.operators.sampling import (
        deterministic_sample, mixture_sample, sample_k_per_group,
    )
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 4000, seed=19)
    half = deterministic_sample(seqs, 0.5, seed=1)
    # deterministic: identical subset on re-run
    assert half.select("doc_id").exceptAll(
        deterministic_sample(seqs, 0.5, seed=1).select("doc_id")
    ).count() == 0
    n = half.count()
    assert abs(n - 2000) < 150  # Bernoulli(0.5) within ~4 sigma

    # mixture: unweighted sources drop to zero; weighted sources keep
    # roughly their fraction
    mixed = mixture_sample(
        seqs, {"source_00": 0.5, "source_01": 1.0}, seed=2
    )
    per = {r["source"]: r["n"] for r in mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    base = {r["source"]: r["n"] for r in seqs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(per) == {"source_00", "source_01"}
    assert per["source_01"] == base["source_01"]          # fraction 1.0
    assert abs(per["source_00"] - base["source_00"] / 2) < 120

    # exact k per group, min(k, group size)
    k5 = sample_k_per_group(seqs, k=5, seed=4)
    sizes = {r["source"]: r["n"] for r in k5.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert all(v == min(5, base[s]) for s, v in sizes.items())
    assert set(sizes) == set(base)


def test_split_assign_partition_and_stability(spark):
    import pytest as _pytest

    from traval_spark.operators.sampling import split_assign
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 3000, seed=29)
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    got = split_assign(seqs, splits, seed=5)
    per = {r["split"]: r["n"] for r in got.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # exhaustive partition, roughly proportional
    assert sum(per.values()) == 3000
    assert abs(per["train"] - 2400) < 120
    assert abs(per["val"] - 300) < 80 and abs(per["test"] - 300) < 80
    # stable membership on re-run
    again = split_assign(seqs, splits, seed=5)
    assert got.select("doc_id", "split").exceptAll(
        again.select("doc_id", "split")).count() == 0
    # fractions must sum to 1
    with _pytest.raises(ValueError):
        split_assign(seqs, [("a", 0.5), ("b", 0.4)])


def test_sample_k_two_phase_exact_and_skew_safe(spark):
    """The salted two-phase top-k must equal the single-window top-k
    exactly (any global top-k row is in its salt bucket's top-k), and
    its FIRST corpus exchange must be keyed by (by, salt) — never by the
    group alone — so a dominant group cannot serialize phase 1."""
    import re

    from traval_spark.operators.sampling import sample_k_per_group
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 3000, seed=23).withColumn(
        "source",
        F.when(F.crc32(F.col("doc_id")) % 2 == 0, F.lit("dominant"))
        .otherwise(F.col("source")),
    )
    two = sample_k_per_group(seqs, k=7, seed=9)
    legacy = sample_k_per_group(seqs, k=7, seed=9, salt_buckets=None)
    assert two.select("doc_id").exceptAll(
        legacy.select("doc_id")).count() == 0
    assert legacy.select("doc_id").exceptAll(
        two.select("doc_id")).count() == 0

    plan = two._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan
    # deepest exchange = the corpus one (printed last): must carry __salt;
    # the group-only exchange may only sit above it (bounded survivors)
    assert "__salt" in exchanges[-1], plan


def test_duplicated_spans_semantics(spark):
    """Exact-substring dedup core cases: a shared interior run flags in
    both docs at the right offsets, self-repetition flags end to end,
    a unique doc flags nothing, NULL/short docs are untouched."""
    from traval_spark.operators.dedup import (
        duplicated_spans,
        trim_duplicated_spans,
    )

    rows = [
        (1, list(range(100, 130)), "a"),  # shares tokens 110..119 with 2
        (2, list(range(50, 60)) + list(range(110, 120))
            + list(range(200, 210)), "a"),
        (3, [7, 8, 9] * 4, "a"),          # self-repeating 12-token doc
        (4, list(range(1000, 1015)), "a"),
        (5, None, "a"),
        (6, [1, 2, 3], "a"),              # shorter than k
    ]
    seqs = spark.createDataFrame(
        rows, "doc_id long, tokens array<int>, source string"
    ).withColumn("n_tok", F.size("tokens").cast("int"))

    sp = {(r["doc_id"], r["span_start"], r["span_end"])
          for r in duplicated_spans(seqs, k=5).collect()}
    assert sp == {(1, 10, 20), (2, 10, 20), (3, 0, 12)}

    got = {r["doc_id"]: r for r in
           trim_duplicated_spans(seqs, k=5).collect()}
    assert got[1]["tokens"] == list(range(100, 110)) + list(range(120, 130))
    assert got[2]["tokens"] == list(range(50, 60)) + list(range(200, 210))
    assert got[3]["tokens"] == [] and got[3]["n_tok"] == 0
    assert got[4]["tokens"] == list(range(1000, 1015))
    assert got[5]["tokens"] is None
    assert got[6]["tokens"] == [1, 2, 3] and got[6]["n_tok"] == 3


def test_duplicated_spans_plan_is_skew_safe(spark):
    """Plan audit: gram counting partial-aggregates (a viral boilerplate
    gram collapses map-side), the hit join is a left-semi on the gram
    key, and every window is partitioned by the doc id (bounded by one
    document's length) — never by gram, never corpus-global."""
    from traval_spark.operators.dedup import duplicated_spans
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 300, seed=3)
    plan = (duplicated_spans(seqs, k=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial_count" in plan, plan
    assert "LeftSemi" in plan, plan
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "doc_id" in ln and "gram" not in ln, ln


def test_trim_spans_reuses_precomputed_spans(spark):
    """trim(spans=precomputed) == trim recomputing them itself."""
    from traval_spark.operators.dedup import (
        duplicated_spans,
        trim_duplicated_spans,
    )
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 80, seed=9)
    dup = seqs.limit(8).withColumn(
        "doc_id", F.concat(F.lit("dup-"), F.col("doc_id"))
    )
    corpus = seqs.unionByName(dup)
    sp = duplicated_spans(corpus, k=5)
    a = {r["doc_id"]: r["tokens"] for r in
         trim_duplicated_spans(corpus, k=5).collect()}
    b = {r["doc_id"]: r["tokens"] for r in
         trim_duplicated_spans(corpus, k=5, spans=sp).collect()}
    assert a == b
    # every planted full-sequence duplicate got fully trimmed (both
    # copies: the conservative all-occurrences rule)
    for r in seqs.limit(8).collect():
        if r["n_tok"] >= 5:
            assert a[r["doc_id"]] == []
            assert a["dup-" + r["doc_id"]] == []


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def _pq_qerr(emb, books):
    """Total squared reconstruction error of the PQ encoding."""
    from traval_spark.operators.similarity import pq_code_col

    d = len(books[0][0][1])
    v = F.col("embedding").cast("array<double>")
    cells = F.transform(
        pq_code_col("embedding", books),
        lambda c, s: F.struct(
            s.cast("int").alias("sub"), c.alias("code"),
            F.slice(v, s * F.lit(d) + 1, d).alias("sv"),
        ),
    )
    ex = emb.select(F.explode(cells).alias("e")).select(
        "e.sub", "e.code", "e.sv"
    )
    bt = emb.sparkSession.createDataFrame(
        [(s, cid, vec) for s, bk in enumerate(books) for cid, vec in bk],
        "sub int, code int, cv array<double>",
    )
    err = F.aggregate(
        F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return ex.join(F.broadcast(bt), ["sub", "code"]).agg(
        F.sum(err)
    ).collect()[0][0]


def test_pq_encode_shape_and_determinism(emb):
    """Codes are m ints in [0, ksub), identical across two runs, and
    the planted near-dup encodes identically to its original (PQ cells
    are far coarser than a 1% perturbation)."""
    from traval_spark.operators.similarity import (
        pq_seed_codebooks,
        with_pq_codes,
    )

    books = pq_seed_codebooks(emb, m=4, ksub=8)
    a = {r["vec_id"]: r["codes"] for r in
         with_pq_codes(emb, books).collect()}
    b = {r["vec_id"]: r["codes"] for r in
         with_pq_codes(emb, books).collect()}
    assert a == b
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c)
               for c in a.values())
    assert a[0] == a[1]


def test_pq_refine_deterministic_and_tightens(emb):
    """Per-subspace Lloyd refinement is deterministic, keeps the code
    space stable, and strictly reduces total quantization error on
    this data (k-means' monotone objective)."""
    from traval_spark.operators.similarity import (
        pq_refine_codebooks,
        pq_seed_codebooks,
    )

    b0 = pq_seed_codebooks(emb, m=4, ksub=8)
    b2 = pq_refine_codebooks(emb, b0, iters=2)
    assert b2 == pq_refine_codebooks(emb, b0, iters=2)
    assert [[c for c, _ in bk] for bk in b2] == \
           [[c for c, _ in bk] for bk in b0]
    assert _pq_qerr(emb, b2) < _pq_qerr(emb, b0)


def test_pq_shortlist_recall(emb):
    """The ADC shortlist at 3k contains the exact top-k's members —
    the IVF-PQ serving contract (ADC shortlist, exact re-rank); also
    pins that adc_dot approximates the true dot ordering far better
    than chance on refined books."""
    from traval_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_refine_codebooks,
        pq_seed_codebooks,
        with_pq_codes,
    )

    q = [float(x) for x in
         emb.filter("vec_id = 0").collect()[0]["embedding"]]
    books = pq_refine_codebooks(
        emb, pq_seed_codebooks(emb, m=4, ksub=8), iters=2
    )
    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=5).collect()}
    short = {r["vec_id"] for r in
             pq_adc_topk(with_pq_codes(emb, books), q, books,
                         k=15).collect()}
    assert len(exact & short) >= 4


def test_epoch_upsample_counts_and_determinism(spark):
    """floor(w) full epochs + a deterministic frac(w) share of one
    more; unlisted sources keep exactly one epoch; epoch ids are dense
    0..reps-1; two runs identical."""
    from traval_spark.operators.sampling import epoch_upsample

    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 3), "t") for i in range(300)],
        "doc_id long, source string, text string",
    )
    w = {"s0": 2.5, "s1": 0.5}
    out = epoch_upsample(docs, w, seed=3)
    rows = out.collect()
    assert rows == epoch_upsample(docs, w, seed=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    # dense epochs per doc
    assert all(sorted(v) == list(range(len(v))) for v in by_doc.values())
    n = {s: sum(len(v) for d, v in by_doc.items() if d % 3 == int(s[1]))
         for s in ("s0", "s1", "s2")}
    assert n["s2"] == 100                 # default weight 1.0
    assert 200 <= n["s0"] <= 300          # 2.5x: between 2x and 3x
    assert 0 < n["s1"] < 100              # 0.5x Bernoulli
    # every s0 doc appears at least twice (floor(2.5) full epochs)
    assert all(len(v) >= 2 for d, v in by_doc.items() if d % 3 == 0)


def test_token_budget_sample_cap_and_straddle(spark):
    """Each budgeted source's kept tokens reach the budget and overflow
    only by the straddling doc; unlisted sources are kept whole;
    membership is deterministic and consumption follows (shard, id)
    hash order (a prefix property: kept set = first docs in that
    order)."""
    from traval_spark.operators.sampling import token_budget_sample
    from traval_spark.packing import shard_key

    seqs = spark.createDataFrame(
        [(i, "hot" if i % 2 == 0 else "cold", 10 + i % 7)
         for i in range(400)],
        "doc_id long, source string, n_tok int",
    )
    budgets = {"hot": 300}
    out = token_budget_sample(seqs, budgets, seed=5)
    rows = out.collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in token_budget_sample(seqs, budgets,
                                                 seed=5).collect())
    cold = [r for r in rows if r["source"] == "cold"]
    assert len(cold) == 200               # unlisted: kept whole
    hot = [r for r in rows if r["source"] == "hot"]
    tot = sum(r["n_tok"] for r in hot)
    mx = max(r["n_tok"] for r in hot)
    assert 300 <= tot < 300 + mx          # budget reached, bounded straddle
    # prefix property in (shard, doc_id) order
    ordered = (
        seqs.filter(F.col("source") == "hot")
        .withColumn("__shard", shard_key("doc_id", 64, 5))
        .orderBy("__shard", "doc_id")
        .collect()
    )
    kept = {r["doc_id"] for r in hot}
    run, seen = 0, set()
    for r in ordered:
        if run >= 300:
            break
        seen.add(r["doc_id"])
        run += r["n_tok"]
    assert kept == seen


def test_remap_tokens_policies(spark):
    """Dense-table remap: in-range ids map, retired (negative-entry) and
    out-of-range ids either become unk_id or are dropped, NULL sequences
    pass through, n_tok follows the drop policy."""
    from traval_spark.operators.text import remap_tokens

    mapping = [10, 11, -1, 13]          # id 2 retired; ids >= 4 unmapped
    seqs = spark.createDataFrame(
        [(1, [0, 1, 2, 3, 9], "s"), (2, None, "s"), (3, [], "s")],
        "doc_id long, tokens array<int>, source string",
    ).withColumn("n_tok", F.size("tokens").cast("int"))

    drop = {r["doc_id"]: r for r in
            remap_tokens(seqs, mapping).collect()}
    assert drop[1]["tokens"] == [10, 11, 13] and drop[1]["n_tok"] == 3
    assert drop[2]["tokens"] is None
    assert drop[3]["tokens"] == [] and drop[3]["n_tok"] == 0

    unk = {r["doc_id"]: r for r in
           remap_tokens(seqs, mapping, unk_id=99).collect()}
    assert unk[1]["tokens"] == [10, 11, 99, 13, 99]
    assert unk[1]["n_tok"] == 5


def test_duplicated_spans_incremental_parity(spark):
    """Incremental == full-recompute: batch spans probed against the
    corpus gram index equal duplicated_spans over corpus UNION batch
    restricted to batch docs — including batch-internal duplicates the
    corpus has never seen."""
    from traval_spark.operators.dedup import (
        duplicated_spans,
        duplicated_spans_incremental,
        token_gram_index,
    )

    corpus = spark.createDataFrame(
        [(i, list(range(i * 20, i * 20 + 12)), "s") for i in range(30)],
        "doc_id long, tokens array<int>, source string",
    )
    # batch: one partial copy of corpus doc 3, one batch-internal dup
    # pair, one fresh doc
    rows = [
        (100, list(range(60, 68)) + [1, 2, 3], "s"),   # overlaps doc 3
        (101, [9, 8, 7, 6, 5, 4, 3, 2], "s"),          # dup of 102
        (102, [9, 8, 7, 6, 5, 4, 3, 2], "s"),
        (103, list(range(5000, 5012)), "s"),           # fresh
    ]
    batch = spark.createDataFrame(
        rows, "doc_id long, tokens array<int>, source string")

    idx = token_gram_index(corpus, k=5)
    inc = {(r["doc_id"], r["span_start"], r["span_end"]) for r in
           duplicated_spans_incremental(batch, idx, k=5).collect()}
    full = {(r["doc_id"], r["span_start"], r["span_end"]) for r in
            duplicated_spans(corpus.unionByName(batch), k=5).collect()
            if r["doc_id"] >= 100}
    assert inc == full
    assert (100, 0, 8) in inc and (101, 0, 8) in inc
    assert not any(d == 103 for d, _, _ in inc)


def test_weighted_sample_k_exact_and_weighted(spark):
    """Exactly k per group; two-phase == legacy single-window plan; a
    100x-weight item appears in nearly every seed's sample while a
    1x-weight item appears in a minority; non-positive/NULL weights are
    excluded."""
    from traval_spark.operators.sampling import weighted_sample_k

    rows = [(i, "g", 100.0 if i == 0 else 1.0) for i in range(40)]
    rows += [(100, "g", 0.0), (101, "g", None), (102, "h", 5.0)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, w double")

    hits_heavy = hits_light = 0
    for seed in range(12):
        got = weighted_sample_k(df, k=5, weight_col="w", seed=seed)
        ids = {r["doc_id"] for r in got.collect()}
        assert not ids & {100, 101}
        hits_heavy += 0 in ids
        hits_light += 1 in ids
        legacy = weighted_sample_k(df, k=5, weight_col="w", seed=seed,
                                   salt_buckets=None)
        assert ids == {r["doc_id"] for r in legacy.collect()}
        per_g = got.groupBy("source").count().collect()
        assert {r["source"]: r["count"] for r in per_g} == {"g": 5, "h": 1}
    # heavy item: P(in top-5 of 40) ≈ 1 with w=100; light ≈ 5/139
    assert hits_heavy >= 10, hits_heavy
    assert hits_light <= 6, hits_light


def test_chunk_documents_reconstructs_and_rags(spark):
    import pandas as pd

    from traval_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(70))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [words, "a b"]})
    )
    out = chunk_documents(df, chunk_tokens=32).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r["id"], r["chunk_idx"])):
        by_doc.setdefault(r["id"], []).append(r)
    # 70 tokens -> 32 + 32 + 6
    assert [r["n_tok"] for r in by_doc[1]] == [32, 32, 6]
    assert " ".join(r["chunk_text"] for r in by_doc[1]) == words
    assert [r["n_tok"] for r in by_doc[2]] == [2]
    # pure map: no shuffle anywhere in the chunker plan
    plan = (chunk_documents(df)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan


def test_redact_pii_ladder_counts_once(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from traval_spark.operators.text import redact_pii

    df = spark.createDataFrame(pd.DataFrame({
        "t": ["mail a.b+c@x-corp.io or 555-123-4567 then 99999 end",
              "clean text only"],
    }))
    r = redact_pii(F.col("t"))
    got = df.select(r["redacted"].alias("red"),
                    r["n_redactions"].alias("n")).collect()
    assert got[0]["red"] == "mail <EMAIL> or <PHONE> then <NUM> end"
    # the email's digits and the phone's digits never double-count as
    # numbers: exactly one hit per ladder stage
    assert got[0]["n"] == 3
    assert got[1]["red"] == "clean text only"
    assert got[1]["n"] == 0


def test_pad_sequences_shapes_and_nulls(spark):
    import pandas as pd

    from traval_spark.operators.text import pad_sequences

    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "tokens": [[5, 6, 7], list(range(10)), None],
        })
    )
    out = {r["doc_id"]: r for r in pad_sequences(df, max_len=5).collect()}
    assert out[1]["input_ids"] == [5, 6, 7, 0, 0]
    assert out[1]["attention_mask"] == [1, 1, 1, 0, 0]
    assert out[1]["n_real"] == 3
    assert out[2]["input_ids"] == [0, 1, 2, 3, 4]     # truncated
    assert out[2]["attention_mask"] == [1, 1, 1, 1, 1]
    assert out[2]["n_real"] == 5
    assert out[3]["input_ids"] is None                # NULL passes through
    assert out[3]["attention_mask"] is None
    plan = (pad_sequences(df, 5)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan


def test_asof_join_semantics_tolerance_and_plan(spark):
    import pandas as pd

    from traval_spark.functions.ts import asof_join

    t = lambda s: pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
    left = spark.createDataFrame(pd.DataFrame(
        [("a", 1, t(50)), ("a", 2, t(100)), ("a", 3, t(100_000)),
         ("b", 4, t(10))],
        columns=["source", "event_id", "ts"],
    ))
    right = spark.createDataFrame(pd.DataFrame(
        [("a", t(40), 1.0), ("a", t(100), 2.0),   # equal-ts: eligible
         ("a", t(100), 5.0)],                     # dup (key, ts): max wins
        columns=["source", "ts", "value"],
    ))
    out = {r["event_id"]: r for r in
           asof_join(left, right).collect()}
    assert out[1]["r_value"] == 1.0 and out[1]["r_ts"] == t(40)
    assert out[2]["r_value"] == 5.0 and out[2]["r_ts"] == t(100)  # <=
    assert out[3]["r_value"] == 5.0                # latest carries on
    assert out[4]["r_value"] is None               # no right row for b

    tol = {r["event_id"]: r for r in
           asof_join(left, right, tolerance="1h").collect()}
    assert tol[2]["r_value"] == 5.0
    assert tol[3]["r_value"] is None               # stale beyond 1h

    plan = (asof_join(left, right)._jdf.queryExecution()
            .executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pmi_bigrams_hand_values(spark):
    """Two docs: unigrams new=3, york=3 (N_uni=6); bigrams
    (new,york)=2, (york,new)=2 (N_bi=4) -> both PMI = ln(2*36/(4*9))
    = ln(2) exactly (exact-integer ratio, one log)."""
    import math

    from traval_spark.operators.text import pmi_bigrams

    df = spark.createDataFrame(
        [("d1", "new york new york"), ("d2", "york new")],
        "doc_id string, text string",
    )
    got = {(r["w1"], r["w2"]): r for r in
           pmi_bigrams(df, min_count=2).collect()}
    assert set(got) == {("new", "york"), ("york", "new")}
    for r in got.values():
        assert r["cnt"] == 2
        assert abs(r["pmi"] - math.log(2.0)) < 1e-12


def test_pmi_min_count_gates_before_assembly(spark):
    """A count-1 bigram never reaches the output (statistical floor),
    but its tokens still count toward the unigram totals."""
    import math

    from traval_spark.operators.text import pmi_bigrams

    df = spark.createDataFrame(
        [("d1", "new york new york"), ("d2", "york new"),
         ("d3", "rare pair")],
        "doc_id string, text string",
    )
    got = {(r["w1"], r["w2"]): r for r in
           pmi_bigrams(df, min_count=2).collect()}
    assert ("rare", "pair") not in got
    # N_uni = 8, N_bi = 5 now: PMI(new,york) = ln(2*64 / (5*3*3))
    assert abs(got[("new", "york")]["pmi"]
               - math.log(2 * 64 / (5 * 9))) < 1e-12


def test_source_overlap_hand_jaccard(spark):
    """s1={a b, b c}, s2={b c, c d}, s3={x y}: jaccard(s1,s2)=1/3,
    zero-overlap pairs KEPT at 0.0, and duplicate docs inside a
    source do not inflate the distinct shingle sets."""
    from traval_spark.operators.text import source_overlap

    df = spark.createDataFrame(
        [("d1", "a b c", "s1"), ("d2", "a b c", "s1"),
         ("d3", "b c d", "s2"), ("d4", "x y", "s3")],
        "doc_id string, text string, source string",
    )
    got = {(r["a"], r["b"]): r for r in source_overlap(df, k=2).collect()}
    assert set(got) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    r12 = got[("s1", "s2")]
    assert (r12["n_a"], r12["n_b"], r12["inter"]) == (2, 2, 1)
    assert abs(r12["jaccard"] - round(1 / 3, 9)) < 1e-12
    assert got[("s1", "s3")]["inter"] == 0
    assert got[("s1", "s3")]["jaccard"] == 0.0


def test_source_entropy_hand_values(spark):
    """A='a a a a': entropy 0, KL = ln(8/5) (corpus q(a)=5/8).
    B='a b c d': entropy ln 4, KL = (ln(2/5) + 3 ln 2)/4."""
    import math

    from traval_spark.operators.text import source_entropy

    df = spark.createDataFrame(
        [("d1", "a a a a", "A"), ("d2", "a b c d", "B")],
        "doc_id string, text string, source string",
    )
    got = {r["g"]: r for r in source_entropy(df).collect()}
    a, b = got["A"], got["B"]
    assert (a["n_tok"], a["vocab"]) == (4, 1)
    assert a["entropy"] == 0.0
    assert abs(a["kl_vs_corpus"] - round(math.log(8 / 5), 6)) < 1e-9
    assert (b["n_tok"], b["vocab"]) == (4, 4)
    assert abs(b["entropy"] - round(math.log(4.0), 6)) < 1e-9
    assert abs(b["kl_vs_corpus"]
               - round((math.log(2 / 5) + 3 * math.log(2)) / 4, 6)) < 1e-9


def test_phrase_search_verify_kills_index_false_positive(spark):
    """'a b c x b c d' posts BOTH probes of phrase 'a b c d' but not
    contiguously -> candidate killed by the verify stage; the true
    match and an exact-text doc survive; <k-word phrase raises."""
    import pytest as _pt

    from traval_spark.operators.dedup import phrase_search, shingle_index

    df = spark.createDataFrame(
        [("d1", "a b c x b c d"), ("d2", "z a b c d z"),
         ("d3", "a b c d"), ("d4", "nothing here at all")],
        "doc_id string, text string",
    )
    idx = shingle_index(df, k=3)
    got = sorted(r["doc_id"] for r in
                 phrase_search(idx, df, "a b c d", k=3).collect())
    assert got == ["d2", "d3"]
    with _pt.raises(ValueError):
        phrase_search(idx, df, "a b", k=3)


def test_corpus_diff_statuses_and_null_convention(spark):
    """added/removed/modified emitted, unchanged suppressed; NULL->''
    edit is UNCHANGED (both hash ''), NULL->'x' is modified."""
    from traval_spark.operators.contract import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, None), (5, "gone")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, ""), (4, "x"), (6, "fresh")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"]
           for r in corpus_diff(old, new).collect()}
    assert got == {2: "modified", 4: "modified",
                   5: "removed", 6: "added"}


def test_audio_features_sine_and_dc_hand_values(spark):
    """PCM16 decode is real (no codec needed): a 440 Hz sine at
    amplitude 0.5 yields RMS ~ 0.5/sqrt(2), ~2f/sr zero crossings per
    sample and a spectral centroid at ~440 Hz; a DC payload yields
    RMS == level, zcr 0, centroid 0; a 3000-sample payload drops the
    trailing partial frame (2 complete frames of 1024)."""
    import numpy as np
    import pandas as pd

    from traval_spark.operators.multimodal import audio_features

    sr, f, amp, n = 8000, 440.0, 0.5, 4096
    t = np.arange(n) / sr
    sine = (amp * np.sin(2 * np.pi * f * t) * 32767).astype("<i2")
    dc = (np.full(3000, 0.25) * 32767).astype("<i2")
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "payload": [sine.tobytes(), dc.tobytes()],
        "sample_rate": [sr, sr],
    }))
    rows = audio_features(df, frame_len=1024).collect()
    sine_rows = [r for r in rows if r["doc_id"] == 1]
    dc_rows = [r for r in rows if r["doc_id"] == 2]
    assert len(sine_rows) == 4 and [r["frame"] for r in sine_rows] \
        == [0, 1, 2, 3]
    for r in sine_rows:
        assert abs(r["rms"] - amp / np.sqrt(2)) < 0.01
        expected_zc = 2 * f * 1024 / sr          # ~112.6
        assert abs(r["zcr"] - expected_zc) <= 2
        assert abs(r["centroid_hz"] - f) < 30    # leakage skirt
    assert len(dc_rows) == 2                     # partial frame dropped
    for r in dc_rows:
        assert abs(r["rms"] - 0.25) < 0.001
        assert r["zcr"] == 0
        assert r["centroid_hz"] == 0.0


def test_lev_verify_hand_values_and_blocking(spark):
    """kitten->sitting = 3 edits; identical prefixes sim 1; empty texts
    sim 1; threshold filters; blocking only pairs same (lang, bucket)."""
    import pandas as pd

    from traval_spark.operators.dedup import (
        length_block_pairs,
        lev_verify_pairs,
    )
    import pyspark.sql.functions as F

    d = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": ["kitten", "sitting", "kitten", "", "",
                 "x" * 300],
        "lang": ["en", "en", "en", "en", "en", "de"],
    })).withColumn("len", F.length("text"))
    pairs = length_block_pairs(d, block_cols=("lang",), len_col="len",
                               width=64)
    got = {(r["id_a"], r["id_b"]): r for r in
           lev_verify_pairs(d, pairs, threshold=0.0, prefix=128).collect()}
    # same bucket pairs only: 300-char 'de' doc pairs with nobody
    assert all(6 not in k for k in got)
    assert got[(1, 2)]["lev"] == 3
    assert abs(got[(1, 2)]["sim"] - (1 - 3 / 7)) < 1e-6
    assert got[(1, 3)]["lev"] == 0 and got[(1, 3)]["sim"] == 1.0
    assert got[(4, 5)]["lev"] == 0 and got[(4, 5)]["sim"] == 1.0
    # threshold keeps only exact-ish pairs
    kept = lev_verify_pairs(d, pairs, threshold=0.9, prefix=128)
    assert {(r["id_a"], r["id_b"]) for r in kept.collect()} == \
        {(1, 3), (4, 5)}
    # prefix window: long texts differing only past the window verify
    # as identical (the disclosed trade-off)
    d2 = spark.createDataFrame(pd.DataFrame({
        "doc_id": [7, 8],
        "text": ["a" * 200, "a" * 128 + "b" * 72],
        "lang": ["en", "en"],
    })).withColumn("len", F.length("text"))
    p2 = length_block_pairs(d2, block_cols=("lang",), len_col="len",
                            width=64)
    r2 = lev_verify_pairs(d2, p2, threshold=0.9, prefix=128).collect()
    assert len(r2) == 1 and r2[0]["sim"] == 1.0


def test_zipf_fit_exact_line_and_degenerate(spark):
    """Counts 6/3/2 are EXACTLY C/r (ln c = ln 6 - ln r): slope -1,
    r2 = 1 to rounding; a single-token source reports NULLs (no line
    through one rank); two ranks fit exactly (r2 = 1)."""
    import pandas as pd

    from traval_spark.operators.text import zipf_fit

    d = spark.createDataFrame(pd.DataFrame({
        "source": ["zipf", "one", "two"],
        "text": ["a a a a a a b b b c c", "solo solo solo", "x x y"],
    }))
    rows = {r["source"]: r for r in zipf_fit(d, k=64).collect()}
    z = rows["zipf"]
    assert z["n_ranks"] == 3
    assert abs(z["slope"] - (-1.0)) < 1e-6
    assert abs(z["r2"] - 1.0) < 1e-6
    import math
    assert abs(z["intercept"] - math.log(6)) < 1e-6
    assert rows["one"]["n_ranks"] == 1
    assert rows["one"]["slope"] is None and rows["one"]["r2"] is None
    t = rows["two"]
    assert t["n_ranks"] == 2 and abs(t["r2"] - 1.0) < 1e-6
    # slope through (ln1, ln2) and (ln2, ln1): -ln2/ln2 = -1
    assert abs(t["slope"] - (-1.0)) < 1e-6


def test_knn_recall_hand_case_and_missed_query(spark):
    """q1: 3 of 5 true neighbors returned -> 0.6; q2: approx returned
    nothing -> recall 0 still reported (brute-side spine); approx-only
    extra neighbors never inflate hits."""
    import pandas as pd

    from traval_spark.operators.similarity import knn_recall

    brute = spark.createDataFrame(pd.DataFrame({
        "qid": [1] * 5 + [2] * 5,
        "nn_id": list(range(10, 15)) + list(range(20, 25)),
    }))
    approx = spark.createDataFrame(pd.DataFrame({
        "qid": [1] * 5,
        "nn_id": [10, 11, 12, 99, 98],  # 3 hits + 2 wrong
    }))
    got = {r["qid"]: r for r in knn_recall(brute, approx, k=5).collect()}
    assert got[1]["hits"] == 3 and abs(got[1]["recall"] - 0.6) < 1e-9
    assert got[2]["hits"] == 0 and got[2]["recall"] == 0.0


def test_doc_entropy_hand_values(spark):
    """'a a a a' -> 0 (collapse), 'a b c d' -> ln 4 (uniform),
    'a a b b' -> ln 2; distinct counts from the same fold."""
    import math

    import pandas as pd

    from traval_spark.operators.text import doc_entropy

    d = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a a a a", "a b c d", "a a b b"],
    }))
    got = {r["doc_id"]: r for r in doc_entropy(d).collect()}
    assert got[1]["entropy"] == 0.0 and got[1]["n_distinct"] == 1
    assert abs(got[2]["entropy"] - round(math.log(4), 6)) < 1e-9
    assert got[2]["n_distinct"] == 4
    assert abs(got[3]["entropy"] - round(math.log(2), 6)) < 1e-9
    assert got[3]["n_toks"] == 4 and got[3]["n_distinct"] == 2


def test_label_centroid_sim_hand_values(spark):
    """Labels along +x and +y axes: centroid cosine 0; identical-
    direction labels: cosine 1; counts carried per label."""
    import pandas as pd

    from traval_spark.operators.similarity import label_centroid_sim

    d = spark.createDataFrame(pd.DataFrame({
        "vec_id": [1, 2, 3, 4, 5],
        "embedding": [[1.0, 0.0], [3.0, 0.0],      # x: centroid (2, 0)
                      [0.0, 2.0], [0.0, 4.0],      # y: centroid (0, 3)
                      [5.0, 0.0]],                  # x2: centroid (5, 0)
        "label": ["x", "x", "y", "y", "x2"],
    }))
    got = {(r["label_a"], r["label_b"]): r
           for r in label_centroid_sim(d).collect()}
    assert got[("x", "y")]["cos"] == 0.0
    assert got[("x", "x2")]["cos"] == 1.0
    assert got[("x2", "y")]["cos"] == 0.0
    assert got[("x", "y")]["n_a"] == 2 and got[("x", "y")]["n_b"] == 2


def test_embedding_cov_hand_values(spark):
    """Three 3-dim vectors: d1 = 2·d0 (corr exactly 1 up to the one
    sqrt ulp), d2 constant (cov 0, corr NULL by the exact-integer
    zero-variance rule); a NULL embedding row drops out of n."""
    from traval_spark.operators.similarity import embedding_cov

    d = spark.createDataFrame(
        [(1, [1.0, 2.0, 5.0]), (2, [2.0, 4.0, 5.0]),
         (3, [3.0, 6.0, 5.0]), (4, None)],
        "vec_id int, embedding array<float>",
    )
    rows = {(r["i"], r["j"]): r for r in embedding_cov(d).collect()}
    assert len(rows) == 6 and all(r["n"] == 3 for r in rows.values())
    assert rows[(0, 0)]["cov"] == 2 / 3        # E[x²]−E[x]² = 14/3 − 4
    assert rows[(0, 1)]["cov"] == 4 / 3        # cov(x, 2x) = 2·var(x)
    assert round(rows[(0, 1)]["corr"], 12) == 1.0
    assert rows[(0, 2)]["cov"] == 0.0 and rows[(0, 2)]["corr"] is None
    assert rows[(2, 2)]["cov"] == 0.0 and rows[(2, 2)]["corr"] is None


def test_embedding_moments_merge_is_bit_identical(spark):
    """Moment tiers built per partition then merged must serve the
    EXACT direct covariance (integer sums re-associate losslessly;
    the float tail is the same three ops) — bitwise float equality,
    no tolerance."""
    import pandas as pd

    from traval_spark.operators.similarity import (
        cov_from_moments,
        embedding_cov,
        embedding_moments,
    )

    rng = __import__("numpy").random.default_rng(7)
    d = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(40),
        "embedding": [rng.normal(size=6).astype("float32").tolist()
                      for _ in range(40)],
        "h": [i % 3 for i in range(40)],
    }))
    direct = {(r["i"], r["j"]): (r["n"], r["cov"], r["corr"])
              for r in embedding_cov(d).collect()}
    merged = {(r["i"], r["j"]): (r["n"], r["cov"], r["corr"])
              for r in cov_from_moments(
                  embedding_moments(d, by=["h"])).collect()}
    assert direct == merged and len(direct) == 21


def test_centroid_drift_hand_values(spark):
    """Centroids (1,0) → (0,2) → (0,4): cos 0 then 1, L2 √5 then 2;
    first period reports NULL metrics."""
    import pandas as pd

    from traval_spark.operators.similarity import (
        centroid_drift,
        embedding_moments,
    )

    d = spark.createDataFrame(pd.DataFrame({
        "vec_id": [1, 2, 3, 4],
        "embedding": [[1.0, 0.0], [1.0, 0.0], [0.0, 2.0], [0.0, 4.0]],
        "period": [0, 0, 1, 2],
    }))
    rows = {r["period"]: r for r in centroid_drift(
        embedding_moments(d, by=["period"]), "period").collect()}
    assert rows[0]["cos_prev"] is None and rows[0]["l2_prev"] is None
    assert rows[0]["n"] == 2 and rows[0]["n_prev"] is None
    assert rows[1]["cos_prev"] == 0.0
    assert rows[1]["l2_prev"] == round(5**0.5, 6)
    assert round(rows[2]["cos_prev"], 12) == 1.0
    assert rows[2]["l2_prev"] == 2.0 and rows[2]["n_prev"] == 1


def test_cluster_occupancy_drift_hand_values(spark):
    """Fixed axis centroids, occupancy [3,0] → [1,2]: PSI =
    0.5·ln(7/3) + 0.5·ln(5); the first period drops (no predecessor),
    and non-consecutive periods produce no pair."""
    import math

    import pandas as pd

    from traval_spark.operators.similarity import cluster_occupancy_drift

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    d = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(6),
        "embedding": [[1.0, 0.1], [2.0, 0.0], [1.0, -0.1],
                      [3.0, 0.2], [0.1, 1.0], [-0.2, 2.0]],
        "period": [0, 0, 0, 1, 1, 1],
    }))
    rows = cluster_occupancy_drift(d, cents, "period").collect()
    assert len(rows) == 1 and rows[0]["period"] == 1
    assert rows[0]["n_bins"] == 2
    want = 0.5 * math.log(7 / 3) + 0.5 * math.log(5)
    assert rows[0]["psi"] == round(want, 6)

    gap = d.withColumn("period", F.col("period") * 2)  # periods 0, 2
    assert cluster_occupancy_drift(gap, cents, "period").count() == 0


def test_pca_components_hand_values(spark):
    """Points on the line y=x: eigenvalues (5, 0), first component
    (1/√2, 1/√2) with the positive-lead sign convention, mean 0."""
    import numpy as np
    import pandas as pd

    from traval_spark.operators.similarity import (
        embedding_moments,
        pca_components,
    )

    d = spark.createDataFrame(pd.DataFrame({
        "vec_id": [1, 2, 3, 4],
        "embedding": [[1.0, 1.0], [-1.0, -1.0], [2.0, 2.0],
                      [-2.0, -2.0]],
    }))
    mean, w, comps = pca_components(embedding_moments(d))
    assert np.allclose(mean, [0.0, 0.0])
    assert np.allclose(w, [5.0, 0.0], atol=1e-9)
    assert np.allclose(comps[0], [2**-0.5, 2**-0.5])


def test_embedding_project_whiten_unit_variance(spark):
    """Axis-aligned data with variances (2, 0.5): whitened projection
    has population variance exactly 1 per output dimension; mean
    subtraction centers a shifted copy to the same projection."""
    import numpy as np
    import pandas as pd

    from traval_spark.operators.similarity import (
        embedding_moments,
        embedding_project,
        pca_components,
    )

    pts = [[2.0, 0.0], [-2.0, 0.0], [0.0, 1.0], [0.0, -1.0]]
    d = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(4), "embedding": pts}))
    mean, w, comps = pca_components(embedding_moments(d))
    out = embedding_project(d, comps, mean=mean, eigenvalues=w,
                            whiten=True).orderBy("vec_id").collect()
    proj = np.array([r["proj"] for r in out])
    assert np.allclose(proj.var(axis=0), [1.0, 1.0], atol=1e-6)
    # shifted copy + mean handling: same projection after centering
    shifted = [[x + 10.0, y - 3.0] for x, y in pts]
    d2 = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(4), "embedding": shifted}))
    mean2, w2, comps2 = pca_components(embedding_moments(d2))
    out2 = embedding_project(d2, comps2, mean=mean2, eigenvalues=w2,
                             whiten=True).orderBy("vec_id").collect()
    proj2 = np.array([r["proj"] for r in out2])
    assert np.allclose(np.abs(proj2), np.abs(proj), atol=1e-5)


def test_embedding_pipeline_end_to_end(spark, tmp_path):
    """embpipe.run on real testdata: every artifact lands, the stored
    cov equals the direct read exactly, the PCA model is well-formed,
    vectors land cid-partitioned, both drift reads populate, and the
    metrics manifest discloses the stage counts."""
    import json

    from traval_spark import embpipe
    from traval_spark.operators.similarity import embedding_cov
    from traval_spark.sources import fsutil

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).withColumn("period", (F.col("vec_id") % 3).cast("int"))
    out = str(tmp_path / "embout")
    m = embpipe.run(spark, emb, out, period_col="period", n_list=4,
                    lloyd_iters=1, metrics={})

    assert m["rows_clean"] > 0 and m["rows_null_dropped"] >= 0
    assert m["moment_cells"] == 3 * (64 * 65) // 2

    cov = spark.read.parquet(f"{out}/cov")
    direct = {(r["i"], r["j"]): (r["n"], r["cov"], r["corr"])
              for r in embedding_cov(emb).collect()}
    stored = {(r["i"], r["j"]): (r["n"], r["cov"], r["corr"])
              for r in cov.collect()}
    assert stored == direct

    model = json.loads(fsutil.read_text(spark, f"{out}/pca_model.json"))
    assert len(model["eigenvalues"]) == 64
    assert model["eigenvalues"] == sorted(
        model["eigenvalues"], reverse=True)
    assert len(model["components"]) == 64
    assert len(model["mean"]) == 64

    assert spark.read.parquet(f"{out}/centroids").count() == 4
    vecs = spark.read.parquet(f"{out}/vectors")
    assert vecs.count() == m["rows_clean"]
    assert "cid" in vecs.columns
    assert any("cid=" in p for p in fsutil.list_names(
        spark, f"{out}/vectors"))

    assert spark.read.parquet(f"{out}/drift_centroid").count() == 3
    occ = spark.read.parquet(f"{out}/drift_occupancy")
    assert {r["period"] for r in occ.collect()} == {1, 2}

    manifest = json.loads(fsutil.read_text(
        spark, f"{out}/run_metrics.json"))
    assert manifest["rows_in"] == m["rows_in"]
    assert manifest["n_list"] == 4


def test_mixture_concentration_hand_values(spark):
    """Weights 1/2/3 across three sources: W=6, sorted Σi·w = 14 ->
    gini (2·14 − 4·6)/(3·6) = 4/18; hhi 14/36; top = c at 0.5."""
    from traval_spark.operators.sampling import mixture_concentration

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "source string, w int"
    )
    r = mixture_concentration(df, "w").collect()[0]
    assert r["n_groups"] == 3 and r["total_w"] == 6
    assert r["gini"] == round(4 / 18, 9)
    assert r["hhi"] == round(14 / 36, 9)
    assert r["top_share"] == 0.5 and r["top_g"] == "c"


def test_mixture_concentration_balance_and_monopoly(spark):
    """Perfect balance -> gini 0, hhi 1/n; monopoly -> gini (n−1)/n,
    hhi 1, top_share 1."""
    from traval_spark.operators.sampling import mixture_concentration

    eq = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 5), ("d", 5)], "source string, w int"
    )
    r = mixture_concentration(eq, "w").collect()[0]
    assert r["gini"] == 0.0 and r["hhi"] == 0.25
    mono = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 12)], "source string, w int"
    )
    r = mixture_concentration(mono, "w").collect()[0]
    assert r["gini"] == round(2 / 3, 9)
    assert r["hhi"] == 1.0 and r["top_share"] == 1.0 and r["top_g"] == "c"


def test_rbo_overlap_hand_cases(spark):
    """Identical top-k lists -> RBO_ext exactly 1; disjoint -> 0 with
    the union spine keeping both groups; swapping ranks 1<->2 drops
    only the d=1 agreement term: (1−p)·Σ_{d≥2} p^(d−1) + p^k."""
    from traval_spark.operators.text import rbo_overlap

    ca = spark.createDataFrame(
        [("s", f"t{i}", 100 - i) for i in range(5)],
        "source string, tok string, cnt long",
    )
    r = rbo_overlap(ca, ca, k=5, p=0.9).collect()[0]
    assert r["rbo"] == 1.0 and r["n_common"] == 5
    cb = spark.createDataFrame(
        [("s", f"u{i}", 100 - i) for i in range(5)],
        "source string, tok string, cnt long",
    )
    r = rbo_overlap(ca, cb, k=5, p=0.9).collect()[0]
    assert r["rbo"] == 0.0 and r["n_common"] == 0
    swapped = spark.createDataFrame(
        [("s", "t1", 100), ("s", "t0", 99)]
        + [("s", f"t{i}", 100 - i) for i in range(2, 5)],
        "source string, tok string, cnt long",
    )
    r = rbo_overlap(ca, swapped, k=5, p=0.9).collect()[0]
    exp = round(
        0.1 * sum(0.9 ** (d - 1) for d in range(2, 6)) + 0.9 ** 5, 6
    )
    assert r["rbo"] == exp and r["n_common"] == 5


def test_rbo_overlap_one_sided_group(spark):
    """A source present in only one period reports rbo 0 over the
    union spine (a vanished source IS maximal churn)."""
    from traval_spark.operators.text import rbo_overlap

    ca = spark.createDataFrame(
        [("only_a", "x", 3)], "source string, tok string, cnt long"
    )
    cb = spark.createDataFrame(
        [("only_b", "x", 3)], "source string, tok string, cnt long"
    )
    got = {r["g"]: r for r in rbo_overlap(ca, cb, k=4, p=0.9).collect()}
    assert got["only_a"]["rbo"] == 0.0 and got["only_a"]["n_common"] == 0
    assert got["only_b"]["rbo"] == 0.0


def test_bigram_entropy_hand_values(spark):
    """'a b a b c': bigrams ab×2, ba, bc; prefixes a:2, b:2 ->
    H(next|prev) = (4·ln2 − 2·ln2)/4 = ln2/2, branching √2. A fully
    deterministic chain ('x y x y …' wraps nothing: every prefix has
    one successor) -> H = 0, branching 1. Docs under 2 tokens drop."""
    import math

    from traval_spark.operators.text import bigram_entropy

    d = spark.createDataFrame(
        [("s", "a b a b c"), ("det", "x y z x y z x y z"), ("tiny", "q")],
        "source string, text string",
    )
    got = {r["g"]: r for r in bigram_entropy(d).collect()}
    s = got["s"]
    assert s["n_bigrams"] == 4 and s["n_prefixes"] == 2
    assert s["n_bigram_types"] == 3
    assert s["cond_entropy"] == round(math.log(2) / 2, 6)
    assert s["branching"] == round(math.sqrt(2), 6)
    det = got["det"]
    assert det["cond_entropy"] == 0.0 and det["branching"] == 1.0
    assert "tiny" not in got  # no bigram can form


def test_bigram_entropy_tokens_col(spark):
    """The pre-tokenized graft shape feeds tokens_col= directly and
    matches the text-mode hand value."""
    import math

    from traval_spark.operators.text import bigram_entropy

    d = spark.createDataFrame(
        [("s", [1, 2, 1, 2, 3])], "source string, tokens array<int>"
    )
    r = bigram_entropy(d, tokens_col="tokens").collect()[0]
    assert r["cond_entropy"] == round(math.log(2) / 2, 6)


def test_tfidf_top_stopword_suppression_and_ties(spark):
    """'the' appears in all 3 sources -> idf = ln(3/3) = 0, so each
    source's signature token (df=1, idf=ln 3) outranks it regardless
    of raw count; tf scales the score (cherry x2 = 2 ln 3); ties on
    the 9dp-rounded score break token-ascending."""
    import math

    from traval_spark.operators.text import tfidf_top

    df = spark.createDataFrame(
        [("d1", "the apple the the the", "A"),
         ("d2", "the banana", "B"),
         ("d3", "the cherry cherry", "C")],
        "doc_id string, text string, source string",
    )
    out = tfidf_top(df, k=2).collect()
    got = {}
    for r in out:
        got.setdefault(r["source"], []).append(r)
    ln3 = math.log(3.0)
    a = got["A"]
    assert (a[0]["tok"], a[0]["cnt"], a[0]["n_src"]) == ("apple", 1, 1)
    assert abs(a[0]["tfidf"] - round(ln3, 6)) < 1e-12
    # 'the' scores 0 everywhere yet still fills the k=2 slot
    assert a[1]["tok"] == "the" and a[1]["tfidf"] == 0.0
    c = got["C"]
    assert c[0]["tok"] == "cherry"
    assert abs(c[0]["tfidf"] - round(2 * ln3, 6)) < 1e-12
    # zero-score tie (idf=0 tokens) would break token-ascending: give
    # B two extra shared tokens and check ordering on the tie
    df2 = spark.createDataFrame(
        [("d1", "x y", "A"), ("d2", "y x", "B")],
        "doc_id string, text string, source string",
    )
    o2 = {r["source"]: [] for r in tfidf_top(df2, k=2).collect()}
    for r in tfidf_top(df2, k=2).collect():
        o2[r["source"]].append(r["tok"])
    assert o2["A"] == ["x", "y"] and o2["B"] == ["x", "y"]


def test_cluster_cohesion_flags_transitive_chain(spark):
    """A: 'w0..w9', B flips 1 token vs A, C flips 2 more (B~A and
    C~B within radius 3, C vs A farther): one chain cluster rooted at
    A with B tight and C looser; a tight exact-dup pair has
    mean_ham 0; singletons are not reported."""
    from traval_spark.operators.dedup import (
        cluster_cohesion, dup_clusters, simhash64_dup_pairs,
        with_simhash64)

    base = " ".join(f"tok{i}" for i in range(60))
    b_txt = base.replace("tok7 ", "flip7 ")
    c_txt = b_txt.replace("tok13 ", "flip13 ").replace(
        "tok29 ", "flip29 ")
    docs = spark.createDataFrame(
        [(1, base), (2, b_txt), (3, c_txt),
         (10, "solo doc body here"), (20, base), ],
        "doc_id bigint, text string")
    pairs = simhash64_dup_pairs(docs, max_hamming=6)
    clusters = dup_clusters(docs, pairs)
    out = {r["cluster"]: r for r in cluster_cohesion(
        docs, clusters, max_hamming=6).collect()}
    assert 10 not in out  # singleton: nothing to audit
    chain = out[1]
    assert chain["n_members"] >= 3  # A root + B + C (+ exact dup 20)
    # exact dup 20 has ham 0 to root; verify max comes from the chain
    fp = {r["doc_id"]: (r["fp_lo"], r["fp_hi"])
          for r in with_simhash64(docs).collect()}

    def ham(a, b):
        return (bin(fp[a][0] ^ fp[b][0]).count("1")
                + bin(fp[a][1] ^ fp[b][1]).count("1"))

    assert chain["max_ham"] == max(ham(2, 1), ham(3, 1))
    exp_members = [2, 3, 20]
    exp_mean = round(sum(ham(m, 1) for m in exp_members)
                     / len(exp_members), 9)
    assert abs(chain["mean_ham"] - exp_mean) < 1e-12
    assert chain["loose"] == int(chain["max_ham"] > 6)


def test_strip_boilerplate_lines_census_and_reassembly(spark):
    """The shared footer (df=3 >= min_df 2) strips from every doc,
    unique bodies survive in original order, an all-boilerplate doc
    keeps its row with clean_text '' and n_kept 0, NULL text passes
    through NULL."""
    from traval_spark.operators.dedup import strip_boilerplate_lines

    foot = "subscribe now"
    docs = spark.createDataFrame(
        [(1, f"alpha body\nmiddle line\n{foot}"),
         (2, f"beta body\n{foot}"),
         (3, foot),
         (4, "unique only"),
         (5, None)],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(
        docs, min_df=2).collect()}
    assert out[1]["clean_text"] == "alpha body\nmiddle line"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 2)
    assert out[2]["clean_text"] == "beta body"
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["clean_text"] == "unique only"
    assert out[5]["clean_text"] is None and out[5]["n_lines"] == 0
