"""End-to-end pipeline tests — the reference's three entry-point flows
(SURVEY.md §3) over FIXTURES tables, plus the sheet-extraction semantics
(prefix scan, null-dst filter, trailing-space parity).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontology_graph_etl_spark import fixtures, pipelines
from ontology_graph_etl_spark.sources.enrichment import snapshot_transport
from ontology_graph_etl_spark.sources.tabular import (
    WORKSHEET_METADATA,
    extract_relationships,
)


@pytest.fixture(scope="module")
def ont(spark):
    concepts = fixtures.concepts(spark, n=300).cache()
    return {
        "concepts": concepts,
        "hierarchy": fixtures.concept_hierarchy(spark, concepts).cache(),
        "rel_rows": fixtures.relationship_rows(spark, rows_per_sheet=25).cache(),
        "mapping": fixtures.concept_id_mapping(spark, concepts).cache(),
        "sheet_raw": fixtures.sheet_raw(spark).cache(),
    }


def test_sheet_graph_end_to_end(ont):
    nodes, edges = pipelines.build_sheet_graph(ont["rel_rows"])
    nodes, edges = nodes.cache(), edges.cache()
    # unique (label, id) after first-wins
    assert nodes.count() == nodes.select("label", "id").distinct().count()
    # trailing-space type parity (defect c preserved verbatim)
    assert nodes.where(F.col("type") == "SurgicalExtent ").count() > 0
    # every relationship in the metadata corpus appears
    rels = {r.relationship for r in edges.select("relationship").distinct().collect()}
    assert "TREATS" in rels and "MEMBER_OF" in rels
    # endpoint containment
    ids = nodes.select(F.col("id").alias("nid"))
    assert edges.join(ids, edges.src == ids.nid, "left_anti").count() == 0
    assert edges.join(ids, edges.dst == ids.nid, "left_anti").count() == 0


def test_sheet_graph_null_dst_filtered(ont):
    _, edges = pipelines.build_sheet_graph(ont["rel_rows"])
    assert edges.where(F.col("dst").isNull()).count() == 0


def test_concept_graph_idempotent_rerun(ont):
    """Running the pipeline twice over the same inputs gives identical
    tables (MERGE semantics, SURVEY.md §5 invariant 3)."""
    n1, e1 = pipelines.build_concept_graph(ont["concepts"], ont["hierarchy"])
    n2, e2 = pipelines.build_concept_graph(ont["concepts"], ont["hierarchy"])
    assert n1.exceptAll(n2).count() == 0 and n2.exceptAll(n1).count() == 0
    assert e1.exceptAll(e2).count() == 0 and e2.exceptAll(e1).count() == 0


def test_enrich_concepts_mapping_and_audit(ont):
    out = pipelines.enrich_concepts(ont["concepts"], ont["mapping"])
    updated, not_found = out["updated"].cache(), out["not_found"].cache()
    n_concept_ids = ont["concepts"].select("id").distinct().count()
    n_mapped = ont["mapping"].count()
    # A4: exactly the mapped ids carry an entity_id
    assert (
        updated.where(F.col("entity_id").isNotNull())
        .select("id").distinct().count() == n_mapped
    )
    # J2: audit covers the gap exactly
    assert not_found.count() == n_concept_ids - n_mapped


def test_enrich_with_snapshot_transport(ont):
    # sorted ids of concepts the enrichment filter keeps: a partition-
    # dependent pick can land on an excluded Cancer-Numeric-Modifier id
    kept = ont["concepts"].where(
        F.col("semantic_type").isNull()
        | (F.col("semantic_type") != "Cancer-Numeric-Modifier")
    )
    ids = sorted(r.id for r in kept.select("id").distinct().collect())[:20]
    snapshot = {
        ids[0]: ["Disease:rest", "Disease:obs", "Neoplasm:rest"],
        ids[1]: ["Response:rest"],
        ids[2]: [],
    }
    out = pipelines.enrich_concepts(
        ont["concepts"], ont["mapping"], transport=snapshot_transport(snapshot)
    )
    enriched = {r.id: r for r in out["enriched"].collect()}
    # split→prefix→set-dedup parity (main.py:378-382)
    assert enriched[ids[0]].property_types == ["Disease", "Neoplasm"]
    assert enriched[ids[0]].node_type == "Disease"
    assert enriched[ids[1]].property_types == ["Response"]
    # empty response yields empty array, null node_type; misses are absent
    assert enriched[ids[2]].property_types == []
    assert set(enriched) == {ids[0], ids[1], ids[2]}


def test_enrich_excludes_semantic_type(spark, ont):
    """Filter parity: Cancer-Numeric-Modifier concepts are never fetched
    (main.py:370-371)."""
    excluded = [
        r.id
        for r in ont["concepts"]
        .where(F.col("semantic_type") == "Cancer-Numeric-Modifier")
        .select("id").distinct().collect()
    ]
    assert excluded, "fixture must include the excluded semantic type"
    snapshot = {i: ["Disease:rest"] for i in excluded}
    out = pipelines.enrich_concepts(
        ont["concepts"], ont["mapping"], transport=snapshot_transport(snapshot)
    )
    assert out["enriched"].count() == 0


def test_extract_relationships_prefix_and_ordinals(ont):
    """S5/S6: stop-at-first-empty-key (row 40's null col0 stops the scan —
    later non-null rows excluded) + ordinal-driven projection."""
    cfg = WORKSHEET_METADATA[1]
    out = extract_relationships(ont["sheet_raw"], cfg).cache()
    assert out.agg(F.max("line_no")).first()[0] < 40
    assert out.where(F.col("node2_id").isNull()).count() == 0
    # ordinals (0,1,2,3): node1_value comes from col0
    row = out.orderBy("line_no").first()
    assert row.node1_value.startswith("r") and row.node1_value.endswith("c0")
    assert row.relationship == "TYPE_OF"


def test_extract_relationships_custom_ordinals(ont):
    """Sheet 2 reads node2 from ordinals (8, 6) — main.py:186-188."""
    cfg = WORKSHEET_METADATA[2]
    out = extract_relationships(ont["sheet_raw"], cfg)
    row = out.orderBy("line_no").first()
    assert row.node2_value.endswith("c8")
    assert row.node2_id.endswith("c6")


def test_graph_summary_counts(ont):
    nodes, edges = pipelines.build_sheet_graph(ont["rel_rows"])
    summary = pipelines.graph_summary(nodes, edges)
    kinds = {r.kind for r in summary.collect()}
    assert kinds == {"node_label", "relationship"}
    total_nodes = sum(
        r.cnt for r in summary.where(F.col("kind") == "node_label").collect()
    )
    assert total_nodes == nodes.count()


def test_pipeline_through_graph_store_roundtrip(spark, ont, tmp_path):
    """End-to-end: build the sheet graph, persist via GraphStore
    (label/relationship partitioned), re-read, and traverse — counts and
    a one-hop query survive the storage round-trip."""
    from ontology_graph_etl_spark.graph_store import GraphStore
    from ontology_graph_etl_spark.operators import graph

    nodes, edges = pipelines.build_sheet_graph(ont["rel_rows"])
    store = GraphStore(str(tmp_path / "ontology"))
    store.save(nodes, edges)

    nodes_back = store.nodes(spark)
    edges_back = store.edges(spark)
    assert nodes_back.count() == nodes.count()
    assert edges_back.count() == edges.count()

    treats = store.edges(spark, relationship="TREATS")
    assert treats.count() == edges.where(F.col("relationship") == "TREATS").count()

    hop = graph.one_hop(nodes_back, edges_back, "TREATS")
    # one_hop matches nodes by id ACROSS labels (the reference's
    # label-less `MATCH (a {id:..})`, main.py:91) — ids shared between
    # 'SurgicalExtent' and 'SurgicalExtent ' (trailing-space fixture)
    # legitimately multiply rows, so hop >= treats with equal distinct
    # edge sets
    assert hop.count() >= treats.count()
    assert (
        hop.select("src", "dst").distinct().count()
        == treats.select("src", "dst").distinct().count()
    )
    assert set(hop.columns) == {"src", "src_name", "relationship", "dst", "dst_name"}


def test_curate_pretraining_corpus_end_to_end(spark, sf_dir):
    """The one-call curation composition: every doc comes back exactly
    once with a full decision trail; the kept corpus has no exact dups,
    at most one doc per near-dup cluster, and a deterministic split."""
    import os

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.pipelines import curate_pretraining_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = curate_pretraining_corpus(docs).cache()
    try:
        rows = out.collect()
        n_docs = docs.count()
        assert len(rows) == n_docs
        assert len({r.doc_id for r in rows}) == n_docs

        by_id = {r.doc_id: r for r in rows}
        texts = {r.doc_id: r.text for r in docs.collect()}
        # exact dedup: identical text -> only the min id has exact_keep
        first_seen = {}
        for did in sorted(texts):
            first_seen.setdefault(texts[did], did)
        for did, r in by_id.items():
            assert r.exact_keep == (first_seen[texts[did]] == did), did

        kept = [r for r in rows if r.keep]
        assert 0 < len(kept) < n_docs
        kept_texts = [texts[r.doc_id] for r in kept]
        assert len(set(kept_texts)) == len(kept_texts)  # no exact dups
        clusters = [r.cluster for r in kept]
        assert len(set(clusters)) == len(clusters)  # one rep per cluster
        # kept docs passed the quality gate
        assert all(r.passes_gopher for r in kept)
        # split is total, deterministic, and ~80/10/10
        assert {r.split for r in rows} <= {"train", "valid", "test"}
        frac_train = sum(r.split == "train" for r in rows) / len(rows)
        assert 0.6 < frac_train < 0.95

        again = {
            (r.doc_id, r.keep, r.split, r.cluster)
            for r in curate_pretraining_corpus(docs).collect()
        }
        assert again == {(r.doc_id, r.keep, r.split, r.cluster) for r in rows}
    finally:
        out.unpersist()


def test_curate_model_scorer_hook(spark, sf_dir):
    """The opt-in model-scorer stage: with a scorer that passes
    everything (threshold 0.0 over non-null scores) the decision trail
    equals the scorer-free run (modulo the two extra columns); with a
    real threshold, every kept doc passes the model gate, dropped-by-
    model docs lose keep even when they pass everything else, and the
    LSH input is pruned (model-dropped docs never become cluster
    representatives)."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.textops import fake_model_scorer
    from ontology_graph_etl_spark.pipelines import curate_pretraining_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    base = {
        (r.doc_id, r.keep, r.split, r.cluster)
        for r in curate_pretraining_corpus(docs).collect()
    }
    allpass = curate_pretraining_corpus(
        docs, model_scorer=fake_model_scorer, model_threshold=0.0
    ).collect()
    assert {(r.doc_id, r.keep, r.split, r.cluster) for r in allpass} == base
    assert all(r.model_keep for r in allpass if r.model_score is not None)

    gated = curate_pretraining_corpus(
        docs, model_scorer=fake_model_scorer, model_threshold=0.5
    ).collect()
    assert len(gated) == len(allpass)
    for r in gated:
        if r.keep:
            assert r.model_keep and r.model_score >= 0.5
        if not r.model_keep:
            assert not r.keep
            # pruned before clustering: never a near-dup representative
            assert r.near_keep is None or r.near_keep is False
    # the model gate actually bites at this threshold (the digest
    # scorer is uniform on [0,1), so ~half the corpus fails it)
    n_dropped = sum(not r.model_keep for r in gated)
    assert 0 < n_dropped < len(gated)


def test_ccnet_pipeline_stage_equivalence(spark, sf_dir):
    """ccnet_quality_pipeline == the manual composition (language_id →
    per-language bigram_logprob → per-language percentile gate), and
    the contract holds: every doc exactly once, keep == top keep_pct%
    per language by LM score, langs=None (driver domain fetch) equals
    the fixed-list path."""
    import math

    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.relational import (
        quality_percentile_gate,
    )
    from ontology_graph_etl_spark.operators.textops import (
        bigram_logprob,
        language_id,
    )
    from ontology_graph_etl_spark.pipelines import ccnet_quality_pipeline

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = ccnet_quality_pipeline(
        docs, keep_pct=34, langs=["en", "und"]
    ).collect()
    assert len(out) == docs.count()
    assert len({r.doc_id for r in out}) == len(out)

    tagged = language_id(docs, "text")
    manual = None
    for lang in ("en", "und"):
        part = tagged.where(F.col("lang_pred") == lang).select(
            "doc_id", "text"
        )
        lm = bigram_logprob(part, "doc_id", "text").select(
            "doc_id", F.lit(lang).alias("lang_pred"), "mean_logprob"
        )
        manual = lm if manual is None else manual.unionByName(lm)
    want = {
        tuple(r)
        for r in quality_percentile_gate(
            manual, "doc_id", "lang_pred", "mean_logprob", 34
        ).collect()
    }
    assert {tuple(r) for r in out} == want

    # keep == integer-percent head bucket per language
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang_pred, []).append(r)
    for lang, rows in by_lang.items():
        n = len(rows)
        n_keep = sum(r.keep for r in rows)
        assert n_keep == math.ceil(n * 34 / 100), (lang, n, n_keep)
        worst_kept = max(r.quality_rank for r in rows if r.keep)
        best_dropped = min(
            (r.quality_rank for r in rows if not r.keep), default=10**9
        )
        assert worst_kept < best_dropped

    # langs=None discovers the same domain
    auto = {tuple(r) for r in ccnet_quality_pipeline(docs, keep_pct=34).collect()}
    assert auto == want


def test_curate_materialize_identical_output_one_scan(spark, sf_dir):
    """materialize=True must change the PLAN (gate/exact/quality branches
    pinned as in-memory RDDs, parquet rescanned fewer times), never the
    OUTPUT."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.pipelines import curate_pretraining_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lazy = curate_pretraining_corpus(docs)
    mat = curate_pretraining_corpus(docs, materialize=True)
    key = lambda r: r["doc_id"]
    assert sorted(map(tuple, lazy.collect()), key=repr) == sorted(
        map(tuple, mat.collect()), key=repr
    )
    lazy_plan = lazy._jdf.queryExecution().executedPlan().toString()
    mat_plan = mat._jdf.queryExecution().executedPlan().toString()
    # the three checkpointed branches add ExistingRDD scans beyond the
    # clustering stage's own internal checkpoints (present in both)...
    assert (
        mat_plan.count("Scan ExistingRDD")
        >= lazy_plan.count("Scan ExistingRDD") + 3
    )
    # ...and the parquet source is scanned strictly fewer times
    assert mat_plan.count("Scan parquet") < lazy_plan.count("Scan parquet")


def test_build_token_budget_mix_end_to_end(spark, sf_dir):
    """Composition invariants on real documents: every input row comes
    out annotated, total kept weight never exceeds the budget, kept
    weight per domain never exceeds its allocation, and the allocation
    column matches the apportionment."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.relational import (
        apportion_budget,
    )
    from ontology_graph_etl_spark.pipelines import build_token_budget_mix

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    budget = 50_000
    out = build_token_budget_mix(docs, budget)
    assert out.count() == docs.count()
    kept = out.where("keep")
    per_dom = {
        r.source: (r.w, r.a)
        for r in kept.groupBy("source")
        .agg(
            F.sum("n_chars").alias("w"), F.first("allocation").alias("a")
        )
        .collect()
    }
    assert sum(w for w, _ in per_dom.values()) <= budget
    for dom, (w, a) in per_dom.items():
        assert w <= a, dom
    alloc = {
        r.domain: r.allocation
        for r in apportion_budget(docs, "source", "n_chars", budget).collect()
    }
    for dom, (_, a) in per_dom.items():
        assert alloc[dom] == a


def test_build_token_budget_mix_clash_guard(spark):
    """ADVICE r6: the pipeline adds 'allocation' on top of the
    operators' own columns — a docs frame already carrying it must
    raise instead of emitting a duplicate output column name."""
    import pytest

    from ontology_graph_etl_spark.pipelines import build_token_budget_mix

    docs = spark.createDataFrame(
        [(1, "a", 10, 99)], "doc_id: long, source: string, "
        "n_chars: int, allocation: int"
    )
    with pytest.raises(ValueError, match="allocation"):
        build_token_budget_mix(docs, 100)


def test_curation_span_removal_stage(spark):
    """span_removal_k= runs the Lee-et-al span cut FIRST and every
    later stage sees the cleaned text: the output equals manually
    composing duplicate_span_removal with the span-free pipeline
    (column for column on the shared trail), every input row comes
    back annotated, and the new columns carry the stage's evidence."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.operators.textops import (
        duplicate_span_removal,
    )
    from ontology_graph_etl_spark.pipelines import curate_pretraining_corpus

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base + " one extra tail piece here now ok fine"),
        (2, "start pad " + base + " different ending words go here"),
        (3, "completely different document with its own words only"),
        (4, "completely different document with its own words only"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = curate_pretraining_corpus(
        docs, near_dup_threshold=0.3, span_removal_k=4
    )
    assert out.count() == len(rows)
    cols = set(out.columns)
    assert {"span_tokens_removed", "text_clean", "keep", "split"} <= cols
    got = {r.doc_id: r for r in out.collect()}
    # doc 2 contained doc 1's 8-token run -> spans removed there only
    assert got[2].span_tokens_removed > 0
    assert got[1].span_tokens_removed == 0
    # manual composition: span removal, then the span-free pipeline on
    # the cleaned text — shared trail columns must match exactly
    cleaned = duplicate_span_removal(docs, k=4).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    manual = curate_pretraining_corpus(cleaned, near_dup_threshold=0.3)
    shared = ["doc_id", "passes_gopher", "exact_keep", "near_keep",
              "split", "keep"]
    a = sorted(map(tuple, out.select(*shared).collect()))
    b = sorted(map(tuple, manual.select(*shared).collect()))
    assert a == b


def test_build_retrieval_index_stage_equivalence(spark, tmp_path):
    """build_retrieval_index == manual chunk -> embed -> write_ivf_index
    composition, stage for stage: identical stored rows, identical
    sidecar centroids, identical search results."""
    from ontology_graph_etl_spark.operators.similarity import (
        hashed_bow_embedding,
        search_ivf_index,
        write_ivf_index,
    )
    from ontology_graph_etl_spark.operators.textops import chunk_documents
    from ontology_graph_etl_spark.pipelines import (
        build_retrieval_index,
        search_retrieval_index,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 13 + j) % 37}" for j in range(60)))
            for i in range(8)
        ],
        "doc_id: long, text: string",
    )
    p_pipe = str(tmp_path / "pipe")
    p_man = str(tmp_path / "manual")
    cents = build_retrieval_index(
        docs, p_pipe, chunk_chars=40, stride=30, num_lists=4,
        train_rounds=1,
    )
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_chars=40, stride=30
    ).withColumn(
        "chunk_key",
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("chunk_id")),
    )
    cents_man = write_ivf_index(
        hashed_bow_embedding(chunks, "chunk_text"),
        p_man,
        "chunk_key",
        "embedding",
        num_lists=4,
        train_rounds=1,
    )
    assert cents == cents_man
    stored = lambda p: sorted(
        map(tuple, spark.read.parquet(p).collect())
    )
    assert stored(p_pipe) == stored(p_man)
    queries = spark.createDataFrame(
        [(100, " ".join(f"w{(3 * 13 + j) % 37}" for j in range(10)))],
        "query_id: long, query_text: string",
    )
    via_pipe = sorted(
        map(
            tuple,
            search_retrieval_index(
                spark, p_pipe, queries, k=3, nprobe=2
            ).collect(),
        )
    )
    via_manual = sorted(
        map(
            tuple,
            search_ivf_index(
                spark,
                p_man,
                hashed_bow_embedding(queries, "query_text"),
                "query_id",
                "embedding",
                k=3,
                nprobe=2,
            ).collect(),
        )
    )
    assert via_pipe == via_manual and via_pipe


def test_retrieval_index_finds_verbatim_chunk(spark, tmp_path):
    """End-to-end retrieval sanity: querying with a chunk's exact text
    returns that chunk at rank 1 with cosine 1.0."""
    from ontology_graph_etl_spark.operators.textops import chunk_documents
    from ontology_graph_etl_spark.pipelines import (
        build_retrieval_index,
        search_retrieval_index,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"tok{(i * 17 + j) % 53}" for j in range(50)))
            for i in range(6)
        ],
        "doc_id: long, text: string",
    )
    path = str(tmp_path / "idx")
    build_retrieval_index(
        docs, path, chunk_chars=60, stride=40, num_lists=2, train_rounds=1
    )
    target = (
        chunk_documents(docs, "doc_id", "text", chunk_chars=60, stride=40)
        .where((F.col("doc_id") == 2) & (F.col("chunk_id") == 1))
        .collect()[0]
    )
    queries = spark.createDataFrame(
        [(0, target.chunk_text)], "query_id: long, query_text: string"
    )
    top = (
        search_retrieval_index(spark, path, queries, k=1, nprobe=2)
        .collect()[0]
    )
    assert top.neighbor_id == "2:1"
    assert top.cosine_sim == 1.0


def test_corpus_health_report_stage_equivalence(spark, sf_dir):
    """corpus_health_report sections are EXACTLY the standalone
    operators' outputs (the q85/q143/q152 composition contract:
    packaging adds no semantics) — each section re-derived from the
    standalone op must match the report's rows."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.relational import (
        categorical_profile,
        distribution_drift,
        numeric_drift,
        snapshot_diff,
    )
    from ontology_graph_etl_spark.operators.textops import (
        vocabulary_drift,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    report = pipelines.corpus_health_report(
        old, new, "doc_id", "text",
        cat_cols=["lang", "source"], num_cols=["n_chars"],
    )
    rows = {(r.section, r.key, r.metric): r.value
            for r in report.collect()}
    # rows section == snapshot_diff counts
    diff = {r.status: r.n
            for r in snapshot_diff(old, new, "doc_id", ["text"])
            .groupBy("status").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    for s, c in diff.items():
        assert rows[("rows", s, "count")] == float(c)
    # cat/num psi == summed standalone psi_contrib
    for c in ("lang", "source"):
        want = distribution_drift(old, new, c).agg(
            F.round(F.sum("psi_contrib"), 6)
        ).collect()[0][0]
        assert rows[("cat_psi", c, "psi")] == want
    want = numeric_drift(old, new, "n_chars", n_bins=10).agg(
        F.round(F.sum("psi_contrib"), 6)
    ).collect()[0][0]
    assert rows[("num_psi", "n_chars", "psi")] == want
    # vocab section == standalone top-10 by |z|
    tagged = new.select(
        F.lit(True).alias("s"), "text"
    ).unionByName(old.select(F.lit(False).alias("s"), "text"))
    top = vocabulary_drift(tagged, "s", "text").orderBy(
        F.abs(F.col("z")).desc(), F.col("token").asc()
    ).limit(10).collect()
    got_vocab = {k[1]: v for k, v in rows.items() if k[0] == "vocab"}
    assert got_vocab == {r.token: r.z for r in top} and len(top) == 10
    # profile section == categorical_profile of NEW, melted
    for r in categorical_profile(new, ["lang", "source"]).collect():
        assert rows[("profile", r["column"], "n_nulls")] == float(
            r.n_nulls
        )
        assert rows[("profile", r["column"], "entropy")] == r.entropy
        assert rows[("profile", r["column"], "top_share")] == (
            r.top_share
        )


def test_ingest_micro_batch_binned_cutoff_gate(spark, tmp_path):
    """The sixth ingest opt-in: a mergeable binned-cutoff gate inside
    the one-call composition — per-doc cutoff_keep ANDs into
    accepted, unknown strata follow the explicit policy, and with
    merge_accepted the ACCEPTED rows' scores fold back into the bin
    counts (cutoffs track the admitted corpus: a flood of accepted
    high scores must raise the derived cutoff)."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.operators import gatestats

    ref = spark.createDataFrame(
        [(i, f"text {i}", "en", float(i)) for i in range(1, 101)],
        "doc_id: long, text: string, lang: string, score: double",
    )
    path = str(tmp_path / "binned")
    gatestats.build_binned_cutoff_store(
        ref, path, "lang", "score", keep_pct=50, n_bins=50
    )
    cut0 = {
        r.strata: r.cutoff
        for r in gatestats.derive_binned_cutoffs(spark, path).collect()
    }["en"]
    batch = spark.createDataFrame(
        [
            (201, "hi score", "en", 90.0),     # above cutoff -> keep
            (202, "low score", "en", 1.0),     # below -> reject
            (203, "null score", "en", None),   # NULL never keeps
            (204, "alien", "xx", 99.0),        # unknown stratum, drop
        ],
        "doc_id: long, text: string, lang: string, score: double",
    )
    trail = pipelines.ingest_micro_batch(
        spark, batch, "doc_id", "text", binned_cutoff_path=path
    )
    got = {r.doc_id: (r.cutoff_keep, r.accepted) for r in trail.collect()}
    assert got == {
        201: (True, True),
        202: (False, False),
        203: (False, False),
        204: (False, False),
    }
    # accepted scores folded back: flood the store with accepted
    # high-score docs and the derived cutoff must rise
    flood = spark.createDataFrame(
        [(300 + i, f"t{i}", "en", 95.0) for i in range(200)],
        "doc_id: long, text: string, lang: string, score: double",
    )
    pipelines.ingest_micro_batch(
        spark, flood, "doc_id", "text", binned_cutoff_path=path
    )
    cut1 = {
        r.strata: r.cutoff
        for r in gatestats.derive_binned_cutoffs(spark, path).collect()
    }["en"]
    assert cut1 > cut0, (cut0, cut1)


def test_ingest_micro_batch_intra_batch_dedup(spark, tmp_path):
    """intra_batch_dedup: exact duplicates inside the arriving batch
    itself (the case the store screens deliberately scope out) —
    first-wins by min id over identical text; losers reject even
    though the store has never seen the text."""
    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.operators import dedup

    ref = spark.createDataFrame(
        [(i, f"reference text number {i} with words") for i in range(50)],
        "doc_id: long, text: string",
    )
    path = str(tmp_path / "bands")
    dedup.write_dedup_index(
        dedup.prepare_dedup_index(
            ref, "doc_id", "text",
            num_hashes=64, bands=16, shingle_n=3, base_hash="xxhash64",
        ),
        path, num_hashes=64, bands=16, shingle_n=3, base_hash="xxhash64",
    )
    batch = spark.createDataFrame(
        [
            (101, "a brand new document about spark"),
            (102, "a brand new document about spark"),   # exact copy
            (103, "another novel text entirely different"),
        ],
        "doc_id: long, text: string",
    )
    trail = pipelines.ingest_micro_batch(
        spark, batch, "doc_id", "text",
        dedup_index_path=path, intra_batch_dedup=True,
        merge_accepted=False,
    )
    got = {r.doc_id: (r.intra_batch_dup, r.accepted)
           for r in trail.collect()}
    assert got == {
        101: (False, True),   # first wins
        102: (True, False),   # its exact in-batch copy loses
        103: (False, True),
    }
    # without the stage both copies would be admitted together
    # (merge_accepted=False so the first call's fold-back cannot
    # have taught the store about them)
    plain = pipelines.ingest_micro_batch(
        spark, batch, "doc_id", "text", dedup_index_path=path,
        merge_accepted=False,
    )
    assert all(r.accepted for r in plain.collect())


def test_ingest_merge_failures_surface_small(spark, tmp_path, monkeypatch):
    """Default-run pin of the fold-back pool's failure aggregation
    (test_ingest_merge_failures_all_surface is the testdata-sized
    variant): two-row sketch and URL stores, whose screens are the
    cheapest. One failing merge re-raises its own exception type
    after the other merge completes; two failing merges surface both
    causes in one RuntimeError."""
    import pytest

    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.operators import sketches, webops

    schema = "doc_id long, text string, url string, lang string"
    ref = spark.createDataFrame(
        [(0, "alpha beta", "http://a.example/x", "en"),
         (2, "gamma delta", "http://b.example/y", "de")],
        schema,
    )
    batch = spark.createDataFrame(
        [(1, "eta theta", "http://c.example/z", "en"),
         (3, "iota kappa", "http://a.example/w", "fr")],
        schema,
    )
    hp, up = str(tmp_path / "hll"), str(tmp_path / "urls")
    sketches.write_cardinality_sketches(
        sketches.build_cardinality_sketches(ref, ["lang"], "doc_id"),
        hp, ["lang"], "doc_id",
    )
    webops.write_url_index(ref, up, "url")

    def boom_hll(*a, **k):
        raise ValueError("hll merge boom")

    def boom_url(*a, **k):
        raise KeyError("url merge boom")

    def ingest():
        pipelines.ingest_micro_batch(
            spark, batch, "doc_id", "text",
            hll_store_path=hp, url_index_path=up,
        )

    monkeypatch.setattr(sketches, "merge_cardinality_sketches", boom_hll)
    with pytest.raises(ValueError, match="hll merge boom"):
        ingest()
    monkeypatch.setattr(webops, "merge_url_index", boom_url)
    with pytest.raises(RuntimeError, match="2 fold-back merges failed") as err:
        ingest()
    assert "hll merge boom" in str(err.value)
    assert "url merge boom" in str(err.value)


def test_ingest_merge_failures_all_surface(spark, sf_dir, tmp_path, monkeypatch):
    """r17 ADVICE pin: when several fold-back merges fail in the
    ingest thread pool, EVERY failure surfaces (aggregate error), not
    just the first future's — and a single failure re-raises the
    original exception type."""
    import pytest

    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import dedup as dedup_mod
    from ontology_graph_etl_spark.operators import textops as textops_mod
    from ontology_graph_etl_spark.operators.dedup import (
        prepare_dedup_index,
        write_dedup_index,
    )
    from ontology_graph_etl_spark.operators.textops import (
        write_substring_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 2 = 1")
    dd, ss = str(tmp_path / "bands"), str(tmp_path / "substr")
    write_dedup_index(
        prepare_dedup_index(ref, "doc_id", "text", bands=4), dd, bands=4
    )
    write_substring_index(ref, ss, "doc_id", "text", min_len=10)

    def boom_dd(*a, **k):
        raise ValueError("dd merge boom")

    def boom_ss(*a, **k):
        raise KeyError("ss merge boom")

    # single failure: the original exception type propagates
    monkeypatch.setattr(dedup_mod, "merge_dedup_index", boom_dd)
    with pytest.raises(ValueError, match="dd merge boom"):
        pipelines.ingest_micro_batch(
            spark, batch, "doc_id", "text",
            dedup_index_path=dd, substring_index_path=ss,
        )
    # two failures: BOTH causes surface in one aggregate error
    monkeypatch.setattr(textops_mod, "merge_substring_index", boom_ss)
    with pytest.raises(RuntimeError, match="2 fold-back merges failed"):
        pipelines.ingest_micro_batch(
            spark, batch, "doc_id", "text",
            dedup_index_path=dd, substring_index_path=ss,
        )
