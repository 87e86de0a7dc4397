"""ANN recall tests: the approximate paths (LSH, IVF) are checked against
brute-force cosine_topk — they may miss neighbors (recall < 1) but every
neighbor they DO return must carry the exact brute-force score, and
recall must clear a sanity floor on the test corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontology_graph_etl_spark.io import load_table
from ontology_graph_etl_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def exact(spark, emb):
    out = similarity.cosine_topk(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )
    return {(r.query_id, r.neighbor_id): r.cosine_sim for r in out.collect()}


def _check_approx(rows, exact_scores, min_recall):
    got = {(r.query_id, r.neighbor_id): r.cosine_sim for r in rows}
    # scores of returned pairs are exact (same rounding, same math)
    exact_all = dict(exact_scores)
    overlap = [p for p in got if p in exact_all]
    for p in overlap:
        assert abs(got[p] - exact_all[p]) < 1e-6
    recall = len(overlap) / max(1, len(exact_all))
    assert recall >= min_recall, f"recall {recall:.2f} < {min_recall}"


def test_ivf_topk_recall(emb, exact):
    rows = similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, num_lists=8, nprobe=4,
    ).collect()
    _check_approx(rows, exact, min_recall=0.5)


def test_lsh_topk_runs_and_scores_exact(emb, exact):
    rows = similarity.lsh_topk(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, num_planes=4,
    ).collect()
    # random-projection recall on tiny synthetic data is loose; only the
    # score-exactness contract is asserted plus non-emptiness
    assert rows
    _check_approx(rows, exact, min_recall=0.0)


def test_ivf_assign_partitions_corpus(emb):
    assigned, model = similarity.ivf_assign(emb, "embedding", num_lists=8)
    counts = assigned.groupBy("list_id").count().collect()
    assert len(counts) == 8
    assert sum(r["count"] for r in counts) == emb.count()


def test_lsh_dedup_clusters_agree_with_exact(spark, sf_dir):
    """LSH star-edge clustering reproduces the exact-Jaccard clustering
    on the test corpus: same doc count, and high pairwise agreement
    (same-cluster relation) vs the exact threshold-0.8 components."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import dedup
    from ontology_graph_etl_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    exact_pairs = dedup.jaccard_pairs_exact(
        docs, "doc_id", "text", threshold=0.8
    ).select("id_a", "id_b")
    exact = {
        r.id: r.component
        for r in connected_components(exact_pairs, "id_a", "id_b").collect()
    }
    approx_rows = dedup.lsh_dedup_clusters(
        docs, "doc_id", "text", shingle_n=1, verify_threshold=0.5
    ).collect()
    approx = {r.doc_id: r.cluster for r in approx_rows}
    assert len(approx) == n_docs

    # pairwise agreement over docs the exact clustering binds together
    import itertools

    by_cluster: dict = {}
    for doc, c in exact.items():
        by_cluster.setdefault(c, []).append(doc)
    same = [
        (a, b)
        for members in by_cluster.values()
        for a, b in itertools.islice(itertools.combinations(members, 2), 200)
    ]
    if same:
        hit = sum(1 for a, b in same if approx[a] == approx[b])
        assert hit / len(same) >= 0.95, f"recall {hit}/{len(same)}"


def test_ivf_det_topk_recall(emb, exact):
    """The deterministic IVF twin must clear the same recall floor as
    the ml-lib IVF — seed centroids partition the space well enough —
    and, being deterministic, must be bit-stable across reruns."""
    out = similarity.ivf_topk_deterministic(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, num_lists=8, nprobe=3,
    )
    rows = out.collect()
    _check_approx(rows, exact, min_recall=0.3)
    again = similarity.ivf_topk_deterministic(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, num_lists=8, nprobe=3,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ivf_trained_recall_floor_second_operating_point(emb, exact):
    """Second recall-contract operating point (r11 verdict #7, beside
    q63's nl=8/nprobe=4 >= 0.4 floor): the TRAINED quantizer at
    num_lists=16, nprobe=8 — probed fraction 0.5, the knee of the
    round-12 recall curve (SCALING.md: recall ~0.78-0.84 at fraction
    0.5 across 8-64 lists at sf0.1; 0.80 at this corpus) — must hold
    recall@5 >= 0.6. Guards the auto-nprobe guidance: nprobe ~=
    num_lists/2 is the documented >=0.7-recall setting."""
    out = similarity.ivf_topk_deterministic(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, num_lists=16, nprobe=8, train_rounds=3,
    )
    _check_approx(out.collect(), exact, min_recall=0.6)


def test_semantic_outlier_gate_semantics(spark, emb):
    """q146 semantics: per-cluster q-fraction flagged (roughly (1-q)
    of each cluster keeps), the flagged rows are EXACTLY each
    cluster's bottom similarity tail (no kept row scores below a
    flagged one), every input row appears exactly once, and the
    approx sketch path agrees with the exact default on cluster
    membership and nearly everywhere on keep (the sketch may move the
    cutoff by one rank)."""
    from ontology_graph_etl_spark.operators.similarity import (
        semantic_outlier_gate,
    )

    out = semantic_outlier_gate(emb, k=6, q=0.2)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert len({r.vec_id for r in rows}) == len(rows)
    by_c = {}
    for r in rows:
        by_c.setdefault(r.centroid_id, []).append(r)
    for cid, members in by_c.items():
        kept = sum(1 for r in members if r.keep)
        # exact interpolated 20th percentile: at least ~75% keep and
        # at least one outlier in any cluster with enough members
        assert kept >= 0.75 * len(members), (cid, kept, len(members))
        if len(members) >= 10:
            assert kept < len(members), cid
        cuts = {r.cutoff for r in members}
        assert len(cuts) == 1  # one cutoff per cluster
        for r in members:
            assert r.keep == (r.sim >= r.cutoff)
        # the flagged set is exactly the bottom tail: no kept row
        # scores below any flagged row
        flagged = [r.sim for r in members if not r.keep]
        if flagged:
            assert max(flagged) < min(r.sim for r in members if r.keep)

    # approx path: same assignment, keep may differ only near the cut
    ap = semantic_outlier_gate(emb, k=6, q=0.2, approx=True).collect()
    exact = {r.vec_id: r for r in rows}
    diff = 0
    for r in ap:
        assert exact[r.vec_id].centroid_id == r.centroid_id
        diff += exact[r.vec_id].keep != r.keep
    assert diff <= 0.05 * len(ap)

    # parameter guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="q must be"):
        semantic_outlier_gate(emb, k=6, q=1.5)


def test_topk_recall_semantics(spark):
    """topk_recall: partial overlap scores |∩|/k; a query missing from
    the approx side entirely scores 0.0 instead of disappearing."""
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)],
        ["query_id", "neighbor_id"],
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 99)],  # q3 absent, q2 half wrong
        ["query_id", "neighbor_id"],
    )
    rows = {
        r.query_id: (r.recall, r.exact_k)
        for r in similarity.topk_recall(approx, exact).collect()
    }
    assert rows == {1: (1.0, 2), 2: (0.5, 2), 3: (0.0, 2)}


def test_kmeans_train_objective_nondecreasing(emb):
    """Lloyd under cosine scoring is spherical k-means (cosine is
    scale-invariant in the centroid, so the raw mean scores like the
    normalized mean): the objective — sum of assigned similarities —
    must not decrease across training rounds, modulo the 1e-6
    fixed-point quantization of the M-step (1e-4 slack)."""
    objs = []
    for r in range(3):
        cents = similarity.kmeans_train(
            emb, k=4, rounds=r
        )
        a = similarity.kmeans_assign(emb, k=4, centroids=cents)
        objs.append(a.agg(F.sum("sim")).collect()[0][0])
    assert all(
        objs[i + 1] >= objs[i] - 1e-4 for i in range(len(objs) - 1)
    ), f"objective decreased across rounds: {objs}"
    # training must actually move the centroids on this corpus
    assert objs[-1] > objs[0]


def test_kmeans_train_partitioning_invariant(emb):
    """The fixed-point M-step exists so centroids are bit-identical
    regardless of shuffle/partition order — BIGINT sums commute where
    double sums don't. Repartitioning the input must not change a
    single component."""
    c1 = similarity.kmeans_train(emb, k=4, rounds=2)
    c2 = similarity.kmeans_train(emb.repartition(7), k=4, rounds=2)
    assert c1 == c2


def test_kmeans_train_empty_and_zero_rounds(emb, spark):
    """rounds=0 returns exactly the md5 seed vectors; an empty input
    trains to an empty centroid list instead of erroring."""
    seeds = similarity.kmeans_train(emb, k=3, rounds=0)
    assert len(seeds) == 3
    trained = similarity.kmeans_train(emb, k=3, rounds=1)
    assert len(trained) == 3 and trained != seeds
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    assert similarity.kmeans_train(empty, k=3, rounds=2) == []


def test_ivf_trained_quantizer_recall_not_worse(emb, spark):
    """train_rounds>0 tightens the IVF lists: on the deterministic
    test corpus the mean recall@5 under the trained quantizer must be
    at least the seed quantizer's (measured 0.52 -> 0.57 at sf0.01;
    both paths are fully deterministic so the comparison is stable)."""
    q = emb.where(F.col("vec_id") % 25 == 0)
    exact = similarity.cosine_topk(emb, q, "vec_id", "embedding", k=5)

    def mean_recall(train_rounds):
        approx = similarity.ivf_topk_deterministic(
            emb, q, k=5, num_lists=16, nprobe=4, train_rounds=train_rounds
        )
        rows = similarity.topk_recall(approx, exact).collect()
        return sum(r.recall for r in rows) / len(rows)

    assert mean_recall(2) >= mean_recall(0)


def test_retrieval_eval_semantics(spark):
    """Golden check on a tiny hand-computed case: recall@k counts
    truth-top-k docs retrieved in the results' top-k; MRR credits the
    best results-rank holding any truth doc; a query the retriever
    returned nothing for scores 0.0, not absent."""
    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2),
         (3, 30, 1)],
        "query_id int, doc_id int, rank int",
    )
    results = spark.createDataFrame(
        [(1, 99, 1), (1, 11, 2), (1, 12, 3),   # 2 of 3, best rank 2
         (2, 98, 1), (2, 97, 2)],               # 0 of 2; q3 absent
        "query_id int, doc_id int, rank int",
    )
    rows = {
        r.query_id: (r.n_truth, r.n_hits, r.recall, r.mrr, r.ndcg)
        for r in similarity.retrieval_eval(results, truth, k=3).collect()
    }
    import math

    def log2(x):
        return math.log(x) / math.log(2.0)

    # query 1: hits at results-ranks 2 and 3; ideal = 3 docs at 1,2,3
    dcg1 = 1 / log2(3.0) + 1 / log2(4.0)
    idcg1 = 1 / log2(2.0) + 1 / log2(3.0) + 1 / log2(4.0)
    assert rows == {
        1: (3, 2, round(2 / 3, 6), 0.5, round(dcg1 / idcg1, 6)),
        2: (2, 0, 0.0, 0.0, 0.0),
        3: (1, 0, 0.0, 0.0, 0.0),
    }
    # k clips both sides: with k=1 only the rank-1 rows count
    rows1 = {
        r.query_id: (r.n_truth, r.n_hits)
        for r in similarity.retrieval_eval(results, truth, k=1).collect()
    }
    assert rows1 == {1: (1, 0), 2: (1, 0), 3: (1, 0)}
    import pytest

    with pytest.raises(ValueError, match="k must be"):
        similarity.retrieval_eval(results, truth, k=0)


def test_quantize_roundtrip_error_bound(emb):
    """Reconstruction error of the int8-style codes is bounded by
    scale/(2*levels) per component (half-up rounding lands within half
    a code step), codes stay in 0..levels, and a constant vector
    round-trips exactly (scale=0 path)."""
    src = emb.select("vec_id", "embedding")
    q = similarity.quantize_embeddings(src, "vec_id", "embedding")
    er = similarity.dequantize_embeddings(q, "vec_id", out_col="recon")
    rows = (
        src.join(er, "vec_id")
        .join(q.select("vec_id", "qvec", "vmin", "vmax"), "vec_id")
        .collect()
    )
    assert rows
    for r in rows:
        scale = r.vmax - r.vmin
        bound = scale / (2 * 255) + 1e-12
        assert all(0 <= c <= 255 for c in r.qvec)
        for x, xr in zip(r.embedding, r.recon):
            assert abs(x - xr) <= bound, (x, xr, bound)


def test_quantize_constant_vector(spark):
    from pyspark.sql import functions as F

    const = spark.createDataFrame(
        [(1, [2.5, 2.5, 2.5]), (2, [0.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    q = similarity.quantize_embeddings(const, "vec_id", "embedding")
    er = similarity.dequantize_embeddings(q, "vec_id", out_col="recon")
    got = {r.vec_id: r.recon for r in er.collect()}
    assert got == {1: [2.5, 2.5, 2.5], 2: [0.0, 0.0, 0.0]}
    codes = {r.vec_id: r.qvec for r in q.collect()}
    assert codes == {1: [0, 0, 0], 2: [0, 0, 0]}
    import pytest

    with pytest.raises(ValueError, match="levels"):
        similarity.quantize_embeddings(const, levels=0)


def test_hard_negatives_label_semantics(spark):
    """q128 golden: per anchor, top-k most-similar corpus vectors whose
    label is KNOWN to differ — NULL-label candidates are excluded (not
    confirmable negatives), same-label candidates are excluded, the
    anchor never matches itself, and an anchor with a NULL label
    yields NO rows at all."""
    corpus = spark.createDataFrame(
        [
            (2, [1.0, 0.1], "b"),   # high cosine, confirmed negative
            (3, [1.0, 0.0], None),  # perfect cosine but unconfirmable
            (4, [1.0, 0.0], "a"),   # perfect cosine but same class
            (5, [0.5, 0.5], "c"),   # lower cosine, confirmed negative
        ],
        "vec_id: long, embedding: array<double>, label: string",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (6, [1.0, 0.0], None)],
        "vec_id: long, embedding: array<double>, label: string",
    )
    out = similarity.hard_negatives(corpus, queries, k=2).collect()
    got = [(r.query_id, r.neighbor_id, r.rank) for r in out]
    assert sorted(got) == [(1, 2, 1), (1, 5, 2)]
    # the NULL-label anchor produced nothing
    assert all(r.query_id != 6 for r in out)
    # scores are the exact rounded cosines
    scores = {r.neighbor_id: r.cosine_sim for r in out}
    import math

    assert scores[2] == round(1.0 / math.sqrt(1.01), 6)
    assert scores[5] == round(0.5 / (math.sqrt(0.5)), 6)


def test_pq_ivf_recall_floor(spark, sf_dir, tmp_path):
    """The PQ-IVF recall contract (the q63 floor applied to the
    product-quantized store): with trained sub-codebooks and a 20x
    rescore shortlist, mean recall@5 vs the brute-force twin clears
    0.4 at nprobe=3/8 — measured 0.53 on the (near-random, hence
    worst-case for PQ) test embeddings, where plain stored-IVF at the
    same probe budget measures 0.58: the code-only shortlist recovers
    nearly the whole IVF probe ceiling while storing ~16x fewer
    vector bytes. Also pins: merge under frozen quantizers (the
    searched index contains a merged batch), and shortlist rescoring
    returns exact cosines (every returned pair's cosine_sim equals
    the brute-force value)."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    existing = emb.where("vec_id % 4 <> 0")
    batch = emb.where("vec_id % 4 = 0")
    path = str(tmp_path / "pq")
    similarity.write_pq_ivf_index(
        existing, path, num_lists=8, m=4, ksub=16, pq_rounds=1
    )
    similarity.merge_pq_ivf_index(spark, path, batch)
    queries = emb.where("vec_id % 43 = 0")
    got = similarity.search_pq_ivf_index(
        spark, path, queries, emb, k=5, nprobe=3, rescore_mult=20
    )
    exact = similarity.cosine_topk(emb, queries, k=5)
    rec = similarity.topk_recall(got, exact)
    mean = rec.agg(F.avg("recall")).collect()[0][0]
    assert mean >= 0.4, mean
    # rescore exactness: every returned cosine equals the brute-force
    # cosine for that (query, neighbor) pair
    ex_pairs = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in similarity.cosine_topk(
            emb, queries, k=1000
        ).collect()
    }
    for r in got.collect():
        assert ex_pairs[(r.query_id, r.neighbor_id)] == r.cosine_sim


def test_semantic_join_golden(spark):
    """Cross-frame semantic join on planted vectors: an exact copy
    and a same-direction scaled copy across the two frames match at
    0.99 (cosine is scale-invariant); orthogonal vectors never
    produce a candidate; ids are side-labeled (id_a = left, id_b =
    right — no self-join ordering), and a left-side pair of near-dups
    does NOT match each other (different frames only)."""
    from ontology_graph_etl_spark.operators.similarity import semantic_join

    dim = 16
    base = [1.0] * dim
    ortho = [1.0, -1.0] * (dim // 2)
    left = spark.createDataFrame(
        [(1, base), (2, base), (3, ortho)],
        "vec_id: long, embedding: array<double>",
    )
    right = spark.createDataFrame(
        [(10, [2.0] * dim), (11, ortho)],
        "vec_id: long, embedding: array<double>",
    )
    got = sorted(
        (r.id_a, r.id_b, r.cosine_sim)
        for r in semantic_join(
            left, right, threshold=0.99, n_bands=4, band_bits=4
        ).collect()
    )
    # both left copies match the scaled right copy; ortho matches ortho
    assert got == [(1, 10, 1.0), (2, 10, 1.0), (3, 11, 1.0)]
    # left ids never appear as id_b and vice versa
    assert all(a in (1, 2, 3) and b in (10, 11) for a, b, _ in got)

def test_screen_pq_ivf_threshold_and_empty_candidates(
    spark, sf_dir, tmp_path
):
    """screen_pq_ivf_index contracts: one row per batch row; the
    threshold is INCLUSIVE (nearest_sim == threshold =>
    semantic_dup); the screen's nearest_sim equals the max approx_sim
    of the shared probe+ADC prefix (_pq_adc_scored — max commutes
    with the 6dp rounding); and a batch row whose probed lists hold
    NO candidates gets NULL nearest_sim => semantic_dup=False."""
    import json

    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "pq")
    similarity.write_pq_ivf_index(
        emb.where("vec_id % 3 = 1"), idx, "vec_id", "embedding",
        num_lists=4, m=4, ksub=16, train_rounds=0, pq_rounds=0,
    )
    batch = emb.where("vec_id % 3 = 0").limit(10)
    scr = similarity.screen_pq_ivf_index(
        spark, idx, batch, "vec_id", "embedding",
        threshold=2.0, nprobe=2,
    )
    rows = {r.vec_id: r for r in scr.collect()}
    assert len(rows) == batch.count()
    assert all(not r.semantic_dup for r in rows.values())  # t=2.0
    # max-vs-prefix consistency
    prefix_max = {
        r.query_id: r.m
        for r in similarity._pq_adc_scored(
            spark, idx, batch, "vec_id", "embedding", 2
        )
        .groupBy("query_id")
        .agg(F.max("approx_sim").alias("m"))
        .collect()
    }
    for vid, r in rows.items():
        assert r.nearest_sim == prefix_max[vid], vid
    # inclusive threshold boundary on one concrete row
    vid, r0 = next(iter(sorted(rows.items())))
    one = batch.where(F.col("vec_id") == vid)
    at = similarity.screen_pq_ivf_index(
        spark, idx, one, "vec_id", "embedding",
        threshold=r0.nearest_sim, nprobe=2,
    ).collect()[0]
    above = similarity.screen_pq_ivf_index(
        spark, idx, one, "vec_id", "embedding",
        threshold=r0.nearest_sim + 1e-6, nprobe=2,
    ).collect()[0]
    assert at.semantic_dup is True and above.semantic_dup is False
    # empty probed list => NULL nearest_sim, never a dup: empty one
    # list's rows out of the store, then probe ONLY that list (its
    # own centroid as the query, nprobe=1)
    side_path = tmp_path / "pq" / similarity._PQ_SIDECAR.filename
    side = json.loads(side_path.read_text())
    stored = spark.read.parquet(idx)
    target = stored.groupBy("list_id").count().orderBy("list_id")
    lid = target.collect()[0].list_id
    pruned = stored.where(F.col("list_id") != F.lit(lid))
    # the overwrite wipes the whole dir, sidecar included — restore it
    pruned.localCheckpoint().write.mode("overwrite").parquet(idx)
    side_path.write_text(json.dumps(side))
    cent = side["centroids"][lid]
    probe_q = spark.createDataFrame(
        [(999_999, [float(x) for x in cent])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.screen_pq_ivf_index(
        spark, idx, probe_q, "vec_id", "embedding",
        threshold=0.0, nprobe=1,
    ).collect()[0]
    assert out.nearest_sim is None and out.semantic_dup is False


def test_calibrate_ivf_index_flags_shifted_merge(spark, sf_dir, tmp_path):
    """calibrate_ivf_index goldens (the q177 device for the frozen
    ANN quantizers): merging batches drawn from the BUILD
    distribution leaves the report quiet, while a distribution-
    shifted merge (every vector displaced along one direction — all
    land in the same frozen list) inflates occupancy_skew past the
    bound and flips needs_rebuild. Deterministic end to end
    (md5-seeded quantizers, no RNG)."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    A = emb.where("vec_id % 4 != 0")
    B = emb.where("vec_id % 4 = 0")
    queries = emb.where("vec_id % 43 = 0")

    def build_and_merge(batch, name):
        path = str(tmp_path / name)
        similarity.write_ivf_index(
            A, path, "vec_id", "embedding", num_lists=8, train_rounds=0
        )
        similarity.merge_ivf_index(spark, path, batch)
        return path

    # in-distribution merge: quiet report
    p1 = build_and_merge(B, "idx_ok")
    r1 = similarity.calibrate_ivf_index(
        spark, p1, emb, queries, k=5, nprobe=3,
        max_recall_drop=0.25, max_skew=2.0,
    ).collect()[0]
    assert r1.n_stored == emb.count()
    assert r1.needs_rebuild is False, r1

    # shifted merge: every batch vector displaced along all-ones —
    # the frozen quantizer funnels them into one list
    shifted = B.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(10.0)
        ).alias("embedding"),
    )
    p2 = build_and_merge(shifted, "idx_shift")
    corpus2 = A.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    ).unionByName(shifted)
    r2 = similarity.calibrate_ivf_index(
        spark, p2, corpus2, queries, k=5, nprobe=3,
        max_recall_drop=0.25, max_skew=2.0,
    ).collect()[0]
    assert r2.occupancy_skew > r1.occupancy_skew, (r1, r2)
    assert r2.needs_rebuild is True, r2


def test_rerank_topk_contract(spark):
    """rerank_topk semantics: pass-through of every fused column, the
    injectable scorer receives the packed 'query + sep + doc' pair
    text, ranking is (score desc, id asc) with NULL pair text LAST
    (a candidate with no doc text can never outrank a scored one),
    and rerank_k truncates per query."""
    import pandas as pd

    from ontology_graph_etl_spark.operators.similarity import rerank_topk

    fused = spark.createDataFrame(
        [(1, 10, 0.5, 1), (1, 11, 0.4, 2), (1, 12, 0.3, 3),
         (2, 10, 0.9, 1), (2, 13, 0.1, 2)],
        "query_id long, doc_id long, rrf_score double, rrf_rank int",
    )
    queries = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "query_id long, query_text string"
    )
    docs = spark.createDataFrame(
        [(10, "ten"), (11, "eleven"), (12, None), (13, "thirteen")],
        "doc_id long, text string",
    )
    def scorer(texts: pd.Series) -> pd.Series:
        # longer pair text scores higher; NULL stays NULL — so the
        # asserted scores below prove the exact packed pair strings
        # the (executor-side) scorer received
        return texts.map(
            lambda t: None if t is None else float(len(t))
        ).astype("float64" if len(texts) else object)

    out = rerank_topk(
        fused, queries, docs, scorer=scorer, rerank_k=2, sep="|"
    ).collect()
    by = {(r.query_id, r.rerank_rank): r for r in out}
    # q1: eleven (11) beats ten (9); doc 12's NULL pair never ranks 1-2
    assert by[(1, 1)].doc_id == 11 and by[(1, 2)].doc_id == 10
    # fused columns ride along
    assert by[(1, 1)].rrf_score == 0.4 and by[(1, 1)].rrf_rank == 2
    # q2: beta|thirteen (13) > beta|ten (8)
    assert by[(2, 1)].doc_id == 13 and by[(2, 2)].doc_id == 10
    assert len(out) == 4  # rerank_k=2 per query
    assert by[(1, 1)].rerank_score == 12.0
