"""End-to-end pipelines — the reference's three entry-point flows
(SURVEY.md §3) recomposed as single lazy Spark plans.

The reference stages everything through text files: generate Cypher to
disk, then execute the file against Neo4j in batches (main.py:400-410).
Here each flow is one DataFrame plan from input tables to canonical
nodes/edges (or enriched) tables; the cypher-codegen and Neo4j sinks
remain available as compatibility outputs (sinks/).

All flows are idempotent: re-running over the same inputs, or over their
own output, produces identical tables (the semantic heart of MERGE —
tested in tests/test_pipelines.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions import sanitize_value
from .operators import graph
from .operators.relational import anti_join, lookup_join
from .operators.upsert import first_wins, update_by_key
from .sources.enrichment import Transport, enrich_property_types


def build_concept_graph(
    concepts: DataFrame,
    hierarchy: DataFrame,
    order_col: str = "line_no",
) -> tuple[DataFrame, DataFrame]:
    """Entry point 1 (main.py:402-404): concept nodes + PARENT_OF edges.

    - Node upsert keyed by (label, id), first line wins
      (``MERGE ... ON CREATE SET``, main.py:62).
    - ``name`` is sanitized like the reference's ``sanitize_value``
      (main.py:44-49); unlike the reference, *every* property goes through
      the same path, so quote-bearing values can't break anything
      (SURVEY.md §5 defect b).
    - Edges materialize only when both endpoints exist
      (``MATCH``+``MATCH``+``CREATE``, main.py:91).

    Returns ``(nodes, edges)``.
    """
    node_rows = concepts.select(
        F.col("id"),
        F.lit("Concept").alias("label"),
        F.col(order_col),
        sanitize_value(F.col("name")).alias("name"),
        F.col("semantic_type"),
        F.col("cui"),
        F.col("search_type"),
        F.col("property_concept"),
    )
    nodes = graph.build_nodes(
        node_rows,
        "id",
        "label",
        order_col,
        prop_cols={
            "name": "name",
            "semantic_type": "semantic_type",
            "cui": "cui",
            "search_type": "search_type",
            "property_concept": "property_concept",
        },
    )
    rels = hierarchy.select(
        F.col("parent_id").cast("string").alias("src"),
        F.col("child_id").cast("string").alias("dst"),
        F.lit("PARENT_OF").alias("relationship"),
    ).dropDuplicates(["src", "dst", "relationship"])
    edges = graph.build_edges(rels, nodes, broadcast_nodes=True)
    return nodes, edges


def build_sheet_graph(
    rel_rows: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Entry point 2 (main.py:406, body main.py:278-302): typed nodes and
    relationships from the flattened spreadsheet rows.

    Both endpoints of every row become node candidates; the first
    occurrence across (sheet_index, line_no) order wins — matching the
    reference executing sheet files in order with ``MERGE ... ON CREATE
    SET`` (main.py:299). Rows with null ``node2_id`` were already
    filtered by extraction (main.py:294-295) but the filter is repeated
    here so the pipeline is safe on raw rows.

    Returns ``(nodes, edges)`` where nodes carry the reference's ``type``
    property (trailing-space values preserved verbatim — parity with
    defect c, SURVEY.md §5).
    """
    rows = rel_rows.where(F.col("node2_id").isNotNull())
    # lexicographic (sheet, line, side) order — NOT an arithmetic
    # encoding, which breaks silently once line_no exceeds the assumed
    # range (monotonically_increasing_id values start at partition*2^33)
    ends = rows.select(
        F.col("node1_id").alias("id"),
        F.col("node1_type").alias("label"),
        sanitize_value(F.col("node1_value")).alias("name"),
        F.col("node1_type").alias("type"),
        F.col("sheet_index").alias("__sheet"),
        F.col("line_no").alias("__line"),
        F.lit(0).alias("__side"),  # node1 precedes node2 within a row
    ).unionByName(
        rows.select(
            F.col("node2_id").alias("id"),
            F.col("node2_type").alias("label"),
            sanitize_value(F.col("node2_value")).alias("name"),
            F.col("node2_type").alias("type"),
            F.col("sheet_index").alias("__sheet"),
            F.col("line_no").alias("__line"),
            F.lit(1).alias("__side"),
        )
    )
    nodes = first_wins(
        ends, ["label", "id"], ["__sheet", "__line", "__side"]
    ).drop("__sheet", "__line", "__side")
    rels = rows.select(
        F.col("node1_id").alias("src"),
        F.col("node2_id").alias("dst"),
        F.col("relationship"),
    ).dropDuplicates(["src", "dst", "relationship"])
    edges = graph.build_edges(rels, nodes, broadcast_nodes=True)
    return nodes, edges


def enrich_concepts(
    concepts: DataFrame,
    mapping: DataFrame,
    transport: Transport | None = None,
) -> dict[str, DataFrame]:
    """Entry point 3 (main.py:409 + main.py:332-355): id-mapping update,
    not-found audit, and (optionally) HTTP property-type enrichment.

    Returns a dict of result tables:
    - ``updated``: concepts with ``entity_id`` set for mapped ids
      (``MATCH ... SET n.entity_id``, main.py:351-352 — A4);
    - ``not_found``: ids absent from the mapping (the printed audit,
      main.py:354-355 — J2);
    - ``enriched`` (when a transport is given): per-concept property
      types via batched ``mapInPandas`` (S8) instead of the reference's
      25,610 sequential HTTP round-trips.
    """
    with_entity = update_by_key(
        concepts.withColumn("entity_id", F.lit(None).cast("long")),
        mapping.select("id", F.col("entity_id").alias("entity_id")),
        "id",
        ["entity_id"],
    )
    out = {
        "updated": with_entity,
        "not_found": anti_join(
            concepts.select("id").distinct(), mapping.select("id"), "id"
        ),
    }
    if transport is not None:
        out["enriched"] = enrich_property_types(concepts, transport)
    return out


def graph_summary(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Operational audit the reference did with prints (main.py:301,354):
    per-label node counts joined with per-relationship edge counts."""
    n = nodes.groupBy(F.col("label").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).withColumn("kind", F.lit("node_label"))
    e = graph.edge_histogram(edges).select(
        F.col("relationship").alias("key"), "cnt"
    ).withColumn("kind", F.lit("relationship"))
    return n.unionByName(e).select("kind", "key", "cnt")


def curate_pretraining_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_threshold: float = 0.5,
    train_frac: float = 0.8,
    valid_frac: float = 0.1,
    base_hash: str = "xxhash64",
    materialize: bool = False,
    span_removal_k: int | None = None,
    model_scorer=None,
    model_threshold: float = 0.5,
) -> DataFrame:
    """One-call training-data curation — the composition the individual
    §2.11 operators exist for:

    0. (opt-in) Exact duplicated-span removal
       (``duplicate_span_removal``, ``span_removal_k=`` tokens) —
       every later stage then sees the CLEANED text, the Lee-et-al
       ordering (cut duplicated spans before doc-level decisions);
       the output gains ``span_tokens_removed`` and ``text_clean``.
       The cleaned frame is ALWAYS localCheckpoint-pinned when this
       stage is on: five downstream consumers would otherwise re-run
       its two shuffles each.
    1. Gopher quality gate (``gopher_quality_filters``) — drop reasons
       ride along as columns.
    1.5. (opt-in) Model-scorer gate (``model_scorer=``, the
       FineWeb-Edu/DCLM classifier-filter stage): batch-vectorized
       inference via :func:`operators.textops.model_scores`, keep =
       ``model_score >= model_threshold`` (NULL scores drop). The
       output gains ``model_score`` and ``model_keep``; the gate ANDs
       into ``keep`` and prunes the LSH input alongside the Gopher
       gate. Inject a real classifier in production,
       ``textops.fake_model_scorer`` in tests.
    2. Exact dedup, first-wins by min id over identical text.
    3. MinHash-LSH near-dup clustering over the surviving docs
       (``lsh_dedup_clusters`` — banded, never O(n²)).
    4. One representative per cluster: highest ``quality_score``, min-id
       tie-break (``cluster_representatives``).
    5. Deterministic md5-threshold train/valid/test split — stable
       across runs, engines, and partitionings.

    Returns EVERY input doc annotated with the full decision trail
    (quality metrics + flags, ``exact_keep``, ``cluster``, ``near_keep``,
    ``split``, and the final ``keep``), so the clean corpus is one
    filter and every drop is auditable. The whole thing is lazy; at
    100 TB the costs are the LSH band shuffle and the exact-dedup text
    shuffle — everything else is scan-speed expressions and broadcast
    joins.

    The lazy composition evaluates the gate/exact/quality branches
    TWICE — once feeding the survivors filter (→ clustering), once in
    the final annotation join (SCALING.md round-3 table).
    ``materialize=True`` pins each branch with ``localCheckpoint``
    (executor-local blocks, eager) so it computes once and both
    consumers read the materialized result — prefer it when the input
    is remote/expensive to rescan; the output is identical either way
    (tested).
    """
    from .operators.dedup import cluster_representatives, lsh_dedup_clusters
    from .operators.textops import gopher_quality_filters, quality_score

    spans = None
    work = docs.select(id_col, text_col)
    if span_removal_k is not None:
        from .operators.textops import duplicate_span_removal

        spans = duplicate_span_removal(
            work, id_col, text_col, k=span_removal_k
        ).select(
            id_col,
            F.col("n_removed").alias("span_tokens_removed"),
            "text_clean",
        ).localCheckpoint()
        work = spans.select(id_col, F.col("text_clean").alias(text_col))
    gq = gopher_quality_filters(work, id_col, text_col)
    model = None
    if model_scorer is not None:
        from .operators.textops import model_scores

        model = model_scores(
            work, [id_col], text_col, model_scorer
        ).withColumn(
            "model_keep",
            F.coalesce(
                F.col("model_score") >= F.lit(float(model_threshold)),
                F.lit(False),
            ),
        )
    quality = quality_score(work.select(id_col, text_col), text_col).select(
        id_col, "quality_score"
    )
    w_text = Window.partitionBy(text_col).orderBy(F.col(id_col).asc())
    exact = (
        work.select(id_col, text_col)
        .withColumn("__rn", F.row_number().over(w_text))
        .select(id_col, (F.col("__rn") == 1).alias("exact_keep"))
    )
    if materialize:
        gq = gq.localCheckpoint()
        exact = exact.localCheckpoint()
        quality = quality.localCheckpoint()
        if model is not None:
            model = model.localCheckpoint()
    survivors = (
        work.join(gq.select(id_col, "passes_gopher"), id_col)
        .join(exact, id_col)
        .where(F.col("passes_gopher") & F.col("exact_keep"))
        .select(id_col, text_col)
    )
    if model is not None:
        survivors = (
            survivors.join(model.select(id_col, "model_keep"), id_col)
            .where(F.col("model_keep"))
            .select(id_col, text_col)
        )
    clusters = lsh_dedup_clusters(
        survivors,
        id_col,
        text_col,
        verify_threshold=near_dup_threshold,
        base_hash=base_hash,
    )
    reps = cluster_representatives(
        clusters, quality, id_col, "quality_score"
    ).select(id_col, "cluster", F.col("keep").alias("near_keep"))
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long") / F.lit(float(1 << 32))
    split = (
        F.when(h < train_frac, "train")
        .when(h < train_frac + valid_frac, "valid")
        .otherwise("test")
    )
    out = (
        docs.join(gq, id_col)
        .join(exact, id_col)
        .join(quality, id_col)
        .join(reps, id_col, "left")
    )
    if spans is not None:
        out = out.join(spans, id_col)
    if model is not None:
        out = out.join(model, id_col)
    keep = (
        F.col("passes_gopher")
        & F.col("exact_keep")
        & F.coalesce(F.col("near_keep"), F.lit(False))
    )
    if model is not None:
        keep = keep & F.col("model_keep")
    return out.withColumn("split", split).withColumn("keep", keep)


def build_token_budget_mix(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    domain_col: str = "source",
    weight_col: str = "n_chars",
) -> DataFrame:
    """One-call exact-budget mix — the composition the budget operators
    exist for: :func:`operators.relational.apportion_budget` decides
    how much of ``budget`` each domain gets (largest-remainder, sums
    EXACTLY to the budget), :func:`operators.relational.fill_budget`
    greedily picks the rows that deliver it (md5-ordered, bucketed
    running sums). Returns EVERY input row annotated with the decision
    trail — ``allocation`` (its domain's budget), ``cum_weight``, and
    ``keep`` — so the mix is one ``keep`` filter and every exclusion is
    auditable, exactly like :func:`curate_pretraining_corpus`'s shape.

    The allocation aggregate scans ``docs`` once on (domain, weight);
    both frames are lazy — at 100 TB the costs are that pruned scan
    plus fill_budget's two passes (SCALING.md round 6).
    """
    from .operators.relational import apportion_budget, fill_budget

    # the operators guard their own internals; this pipeline adds
    # 'allocation' (and a transient '__mx_dom') on top, so the same
    # clash check applies at this layer
    clash = {"allocation", "__mx_dom"} & set(docs.columns)
    if clash:
        raise ValueError(
            "build_token_budget_mix: docs already has column(s) "
            f"{sorted(clash)} this pipeline would add"
        )
    alloc = apportion_budget(docs, domain_col, weight_col, budget)
    filled = fill_budget(docs, id_col, domain_col, weight_col, alloc)
    return filled.join(
        F.broadcast(
            alloc.select(
                F.col("domain").alias("__mx_dom"),
                F.col("allocation"),
            )
        ),
        F.col(domain_col).eqNullSafe(F.col("__mx_dom")),
        "left",
    ).drop("__mx_dom")


def build_retrieval_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 200,
    stride: int = 150,
    embed=None,
    num_lists: int = 16,
    train_rounds: int = 2,
) -> list[list[float]]:
    """One-call retrieval-corpus indexing — the composition the q133
    docstring names as the chunking operator's natural downstream:

    1. ``chunk_documents(chunk_chars=, stride=)`` — overlapping
       character chunks, the retrieval unit (zero-shuffle explode).
    2. the EMBED SEAM: ``embed(chunks)`` must return the frame with an
       ``embedding`` array column. Defaults to
       :func:`operators.similarity.hashed_bow_embedding` (feature-
       hashed BoW — zero-dependency, deterministic, JVM-side); swap a
       model-backed ``mapInPandas`` in production (the multimodal
       codec-seam contract: the Spark plumbing is real either way).
    3. ``write_ivf_index`` over the chunk embeddings keyed by
       ``{id}:{chunk_id}``, quantizer frozen into the sidecar —
       the persisted index :func:`search_retrieval_index` and
       ``similarity.merge_ivf_index`` then operate on.

    Returns the trained centroids (write_ivf_index's contract). At
    100 TB the cost profile is the embed pass (scan-speed for the
    default; model-bound otherwise) + the q137-certified index build.
    Stage-equivalence vs manual composition is pinned in
    tests/test_pipelines.py.
    """
    from .operators.similarity import hashed_bow_embedding, write_ivf_index
    from .operators.textops import chunk_documents

    chunks = chunk_documents(
        docs, id_col, text_col, chunk_chars=chunk_chars, stride=stride
    ).withColumn(
        "chunk_key",
        F.concat_ws(":", F.col(id_col).cast("string"), F.col("chunk_id")),
    )
    if embed is None:
        embedded = hashed_bow_embedding(chunks, "chunk_text")
    else:
        embedded = embed(chunks)
    # materialization boundary: the index build reads the embedded
    # frame several times (seed pick, assignment, the stored-row
    # join); left lazy, the embed expression — or a model-backed UDF —
    # re-executes per consumer (the fork-without-reuse class; measured
    # 384 s -> seconds on the sf0.01 chunk corpus). The pinned frame
    # is (chunk_key, embedding) only.
    embedded = embedded.select("chunk_key", "embedding").localCheckpoint()
    return write_ivf_index(
        embedded,
        path,
        "chunk_key",
        "embedding",
        num_lists=num_lists,
        train_rounds=train_rounds,
    )


def search_retrieval_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "query_id",
    text_col: str = "query_text",
    k: int = 5,
    nprobe: int = 4,
    embed=None,
) -> DataFrame:
    """Query half of :func:`build_retrieval_index`: embed the query
    texts through the SAME seam (mismatched embedders are the
    retrieval twin of the mismatched-quantizer failure class the IVF
    sidecar exists to prevent — the caller must pass the embedder the
    index was built with) and search the stored lists under the
    sidecar's frozen centroids. Output: ``(query_id, rank,
    neighbor_id, cosine_sim)`` where ``neighbor_id`` is the
    ``{doc}:{chunk}`` chunk key."""
    from .operators.similarity import hashed_bow_embedding, search_ivf_index

    q = queries.select(F.col(id_col), F.col(text_col))
    if embed is None:
        q = hashed_bow_embedding(q, text_col)
    else:
        q = embed(q)
    return search_ivf_index(
        spark, path, q, id_col, "embedding", k=k, nprobe=nprobe
    )


def ccnet_quality_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_pct: int = 34,
    lam: float = 0.7,
    langs: list[str] | None = None,
    buckets: int = 256,
) -> DataFrame:
    """CCNet-style per-language LM quality bucketing (Wenzek et al.
    2020) — the composition its stages exist for:

    1. language ID (:func:`operators.textops.language_id`) tags every
       doc with ``lang_pred``;
    2. one bigram LM per language
       (:func:`operators.textops.bigram_logprob` trained on that
       language's OWN docs — the CCNet contract: a Wikipedia-grade LM
       per language, never one model across languages), scoring each
       doc's mean token log-probability;
    3. per-language percentile gate
       (:func:`operators.relational.quality_percentile_gate`):
       ``keep_pct=34`` flags CCNet's "head" tercile per language by
       LM score (higher mean logprob = lower perplexity = cleaner
       text); ``quality_rank`` orders the whole language for
       head/middle/tail bucketing downstream.

    ``langs=`` is the production path (CCNet runs a FIXED language
    list); ``None`` collects the tiny distinct ``lang_pred`` domain
    (driver-side small-domain fetch, the seed-fetch class). The
    per-language loop is a loop over that small domain — each
    language's LM is an independent lazy plan, so Spark schedules
    them as one job when the union is consumed.

    Returns every input doc as ``(id, lang_pred, mean_logprob,
    quality_rank, keep)`` — audit-friendly; filter ``keep`` for the
    head bucket. Empty docs score NULL and rank trailing (DESC =
    nulls last), like every other gate in the repo."""
    from .operators.relational import quality_percentile_gate
    from .operators.textops import bigram_logprob, language_id

    tagged = language_id(
        docs.select(id_col, text_col), text_col
    ).localCheckpoint()
    if langs is None:
        langs = [
            r[0]
            for r in tagged.select("lang_pred").distinct().collect()
        ]
    scored = None
    for lang in sorted(langs):
        part = tagged.where(F.col("lang_pred") == lang).select(
            id_col, text_col
        )
        lm = bigram_logprob(part, id_col, text_col, lam=lam).select(
            id_col,
            F.lit(lang).alias("lang_pred"),
            "mean_logprob",
        )
        scored = lm if scored is None else scored.unionByName(lm)
    return quality_percentile_gate(
        scored, id_col, "lang_pred", "mean_logprob", keep_pct, buckets
    )


def corpus_health_report(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    cat_cols: list[str],
    num_cols: list[str],
    compare_cols: list[str] | None = None,
    vocab_top_k: int = 10,
    n_bins: int = 10,
    alpha: float = 0.01,
    min_count: int = 5,
) -> DataFrame:
    """One-call snapshot-over-snapshot health report — the q85/q143/
    q152 one-call precedent applied to the drift/audit family: every
    recurring-ingest question a curation pipeline asks about "this
    dump vs the last one", chained as ONE lazy plan and emitted in a
    single long-format frame ``(section, key, metric, value)``:

    * ``rows``      — :func:`operators.relational.snapshot_diff`
      status counts (added/removed/changed/unchanged);
    * ``cat_psi``   — per categorical column, the summed PSI of
      :func:`operators.relational.distribution_drift`;
    * ``num_psi``   — per numeric column, the summed PSI of
      :func:`operators.relational.numeric_drift` (side A = ``old``
      fixes the bins — the reference snapshot is the contract);
    * ``vocab``     — the ``vocab_top_k`` most side-distinguishing
      tokens by |z| from :func:`operators.textops.vocabulary_drift`
      (side A = ``new``, so positive log-odds = overrepresented in
      the new snapshot), ties broken token-ascending;
    * ``profile``   — :func:`operators.relational.
      categorical_profile` of the NEW snapshot, numeric metrics
      melted (n_nulls / n_distinct / entropy / top_share).

    Each section is exactly its standalone operator's output
    (stage-equivalence pinned in tests/test_pipelines.py) — the
    composition adds no semantics, only the single-plan packaging:
    one action computes the whole report, so a scheduler sees one
    job and the operators' own scale shapes (union-pivot PSI, one
    tagged explode for vocab, one-scan profile) are preserved
    verbatim. Headline reading: ``cat_psi``/``num_psi`` > 0.2 is the
    conventional action threshold; ``rows``/``vocab`` say what moved.
    """
    from .operators.relational import (
        categorical_profile,
        distribution_drift,
        numeric_drift,
        snapshot_diff,
    )
    from .operators.textops import vocabulary_drift

    def row(section, key, metric, value):
        return (
            F.lit(section).alias("section"),
            key.alias("key"),
            F.lit(metric).alias("metric"),
            value.cast("double").alias("value"),
        )

    parts = [
        snapshot_diff(
            old, new, id_col, compare_cols or [text_col]
        )
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(*row("rows", F.col("status"), "count", F.col("__n")))
    ]
    for c in cat_cols:
        parts.append(
            distribution_drift(old, new, c)
            .agg(F.round(F.sum("psi_contrib"), 6).alias("__v"))
            .select(*row("cat_psi", F.lit(c), "psi", F.col("__v")))
        )
    for c in num_cols:
        parts.append(
            numeric_drift(old, new, c, n_bins=n_bins)
            .agg(F.round(F.sum("psi_contrib"), 6).alias("__v"))
            .select(*row("num_psi", F.lit(c), "psi", F.col("__v")))
        )
    tagged = new.select(
        F.lit(True).alias("__side"), F.col(text_col)
    ).unionByName(
        old.select(F.lit(False).alias("__side"), F.col(text_col))
    )
    parts.append(
        vocabulary_drift(
            tagged, "__side", text_col, alpha=alpha, min_count=min_count
        )
        .orderBy(F.abs(F.col("z")).desc(), F.col("token").asc())
        .limit(vocab_top_k)
        .select(*row("vocab", F.col("token"), "z", F.col("z")))
    )
    prof = categorical_profile(new, cat_cols)
    melted = prof.select(
        F.col("column"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.col(m).cast("double").alias("v"),
                    )
                    for m in (
                        "n_nulls",
                        "n_distinct",
                        "entropy",
                        "top_share",
                    )
                ]
            )
        ).alias("p"),
    )
    parts.append(
        melted.select(
            F.lit("profile").alias("section"),
            F.col("column").alias("key"),
            F.col("p.m").alias("metric"),
            F.col("p.v").alias("value"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _future_exc(fut):
    """The future's exception, waiting for completion — ``None`` when
    it succeeded. Lets a fan-out loop drain every future and report
    EVERY failure instead of dying on the first ``.result()``."""
    return fut.exception()


def ingest_micro_batch(
    spark,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedup_index_path: str | None = None,
    dedup_threshold: float = 0.5,
    substring_index_path: str | None = None,
    max_dup_char_frac: float = 0.5,
    ccnet_store_dir: str | None = None,
    unknown_strata: str = "drop",
    drift_baseline_path: str | None = None,
    drift_psi_threshold: float = 0.2,
    hll_store_path: str | None = None,
    binned_cutoff_path: str | None = None,
    pq_index_path: str | None = None,
    vec_col: str = "embedding",
    embed=None,
    semantic_threshold: float = 0.8,
    pq_nprobe: int = 4,
    url_index_path: str | None = None,
    url_col: str = "url",
    intra_batch_dedup: bool = False,
    merge_accepted: bool = True,
) -> DataFrame:
    """ONE audited call for the continuous-ingest production loop —
    screen a micro-batch against every stored lifecycle it opts into,
    emit a per-document decision trail (the ``curate_pretraining_
    corpus`` audit shape), and fold the ACCEPTED documents back into
    the maintainable stores so batch N+1 sees batch N:

    * ``dedup_index_path`` — MinHash-LSH band index
      (:func:`operators.dedup.screen_against_index`): per doc
      ``n_near_dups``, ``max_jaccard`` (6dp, NULL when no verified
      near-dup at ``dedup_threshold``), ``near_dup``.
    * ``substring_index_path`` — corpus window fingerprints
      (:func:`operators.textops.screen_against_substring_index`):
      ``n_chars``, ``dup_chars``, ``n_dup_spans``, ``dup_char_frac``
      (6dp; 0.0 for empty docs), ``substr_reject`` =
      frac > ``max_dup_char_frac``.
    * ``ccnet_store_dir`` — frozen CCNet store
      (:func:`operators.gatestats.screen_ccnet_frozen`):
      ``lang_pred``, ``mean_logprob``, ``ccnet_keep``.
    * ``drift_baseline_path`` — frozen drift baseline
      (:func:`operators.gatestats.psi_against_baseline`): the batch's
      per-column PSI collapses to ``drift_psi_max`` + ``drift_alarm``
      (> ``drift_psi_threshold``) riding on every row — a batch-level
      monitor recorded in the trail (the conditions under which each
      doc was admitted), never a per-doc gate.
    * ``hll_store_path`` — cardinality sketch store
      (:func:`operators.sketches`): pure maintenance (accepted docs
      merge in under the sidecar's own group/value columns); sketches
      gate nothing, so no trail column.
    * ``binned_cutoff_path`` — the MERGEABLE score gate
      (:func:`operators.gatestats.screen_against_binned_cutoffs`):
      the batch must carry the store's own strata/score columns
      (sidecar-declared); per doc ``cutoff_keep``, and with
      ``merge_accepted`` the accepted rows' scores fold into the bin
      counts (O(batch), crash-atomic) so the cutoffs TRACK the
      admitted corpus — the one gate in this composition that is
      frozen-reference AND maintainable at once.
    * ``url_index_path`` — stored URL-seen / domain-count index
      (:func:`operators.webops.screen_against_url_index`): per doc
      ``url_seen`` (normalized URL already admitted — the cross-batch
      URL-exact dedup) and ``domain_full`` (the domain's FOLDED
      stored count at the sidecar's frozen ``max_per_domain``); the
      cheapest filter in the stack, screened first. With
      ``merge_accepted`` the admitted rows' new URLs and per-domain
      counts fold back O(batch), crash-atomic
      (:func:`operators.webops.merge_url_index`) — a domain fills up
      ACROSS batches, the RefinedWeb budget at ingest.
    * ``pq_index_path`` — stored PQ-IVF index, the EMBEDDING-SPACE
      dedup modality (SemDeDup-class: the q87 semantic-dedup
      operation as a per-batch screen —
      :func:`operators.similarity.screen_pq_ivf_index`): per doc
      ``nearest_sim`` (max ADC-approximated cosine over the probed
      lists' stored codes, 6dp, NULL when the probed lists are
      empty) and ``semantic_dup`` (>= ``semantic_threshold``). The
      batch must carry ``vec_col``, or pass ``embed=`` (a callable
      ``DataFrame -> DataFrame`` adding it — the
      ``build_retrieval_index`` seam, e.g.
      :func:`operators.similarity.hashed_bow_embedding`); embedding
      happens ONCE, before the trail freeze, and the same vectors
      fold back. With ``merge_accepted`` the accepted vectors encode
      under the index's FROZEN quantizers and append O(batch)
      (:func:`operators.similarity.merge_pq_ivf_index`) — batch N+1
      is screened against batch N's admitted embeddings. No raw
      corpus vector is ever read: the verdict comes from stored
      codes + norms alone, preserving the zero-corpus-term
      per-batch cost.

    ``intra_batch_dedup=True`` adds the stage the store screens
    deliberately scope OUT (the screen_against_index contract):
    exact duplicates WITHIN the arriving batch itself — a dump
    routinely contains its own copies, and without this stage every
    copy of a novel text is accepted together (the store only learns
    about them at the next batch). First-wins by min id over
    identical text (one text-keyed aggregate, the q54 device); the
    trail gains ``intra_batch_dup`` and losers AND into rejection.

    ``accepted`` = NOT (url_seen OR domain_full) AND NOT
    intra_batch_dup AND NOT near_dup AND NOT substr_reject AND
    ccnet_keep AND cutoff_keep AND NOT semantic_dup, each conjunct
    only when its stage is opted in. The trail is
    ``localCheckpoint``-MATERIALIZED before any store is written:
    verdicts are frozen first, so the fold-back can never leak the
    batch's own fingerprints into its own screen (and the returned
    frame stays valid after the merges). With ``merge_accepted`` the
    accepted rows append into the dedup band index, the substring
    fingerprint index, the HLL store, and the PQ-IVF index (vectors
    encoded under its frozen coarse centroids + sub-codebooks) —
    each an O(batch) append under the store's frozen sidecar
    parameters (never a corpus
    read); the CCNet and drift stores are FROZEN by contract (that is
    their point — Wenzek-style screens and monitors compare every
    batch against the same reference) and are never written here.

    Scale shape: everything is batch-sized — the corpus appears only
    through the stored artifacts (band rows, fingerprints, count
    tables, baseline shares), each read pruned to its join. Screening
    the Nth batch costs the same as the first; the one cross-batch
    state is the stores themselves.
    """
    from .operators import gatestats, sketches
    from .operators.dedup import merge_dedup_index, screen_against_index
    from .operators.textops import (
        merge_substring_index,
        screen_against_substring_index,
    )

    stores = (
        dedup_index_path,
        substring_index_path,
        ccnet_store_dir,
        drift_baseline_path,
        hll_store_path,
        binned_cutoff_path,
        pq_index_path,
        url_index_path,
    )
    if all(s is None for s in stores):
        raise ValueError(
            "ingest_micro_batch: no store opted in — pass at least one "
            "of dedup_index_path / substring_index_path / "
            "ccnet_store_dir / drift_baseline_path / hll_store_path / "
            "binned_cutoff_path / pq_index_path / url_index_path"
        )
    vbatch = None
    if pq_index_path is not None:
        # embed ONCE — the screen and the fold-back must see the same
        # vectors, and a model-backed seam must not run twice
        vbatch = embed(batch) if embed is not None else batch
        if vec_col not in vbatch.columns:
            raise ValueError(
                f"ingest_micro_batch: pq_index_path set but the batch "
                f"has no {vec_col!r} column — pass embed= or vec_col="
            )
    trail = batch.select(id_col)
    gates = []
    if url_index_path is not None:
        # the cheapest filter in the stack screens first: stored
        # URL-seen membership + the frozen per-domain budget
        from .operators.webops import screen_against_url_index

        u = screen_against_url_index(
            spark, url_index_path, batch, id_col, url_col
        ).select(id_col, "url_seen", "domain_full")
        trail = trail.join(u, id_col, "left")
        gates.append(~F.col("url_seen") & ~F.col("domain_full"))
    if intra_batch_dedup:
        # first-wins by min id over identical text (the q54 device):
        # one text-keyed partial-aggregable groupBy, winners-sized
        # join back — the batch never shuffles more than once here
        winners = (
            batch.select(id_col, text_col)
            .groupBy(text_col)
            .agg(F.min(id_col).alias("__win"))
            .select(
                F.col("__win").alias(id_col), F.lit(True).alias("__ibw")
            )
        )
        trail = (
            trail.join(winners, id_col, "left")
            .withColumn("intra_batch_dup", F.col("__ibw").isNull())
            .drop("__ibw")
        )
        gates.append(~F.col("intra_batch_dup"))
    dd_signed = None
    if dedup_index_path is not None:
        # ONE shingle+minhash pass for the batch, shared by the screen
        # here and the fold-back merge below (pre-r16 the loop paid it
        # twice per micro-batch — guide §1.2); built under the index's
        # OWN sidecar parameters, the screen_against_index contract
        from .operators.dedup import (
            read_dedup_index,
            signed_minhash_frame,
        )

        _, dd_params = read_dedup_index(spark, dedup_index_path)
        dd_signed = signed_minhash_frame(
            batch,
            id_col,
            text_col,
            num_hashes=int(dd_params["num_hashes"]),
            shingle_n=int(dd_params["shingle_n"]),
            base_hash=str(dd_params["base_hash"]),
        )
        pairs = screen_against_index(
            spark,
            dedup_index_path,
            batch,
            id_col,
            text_col,
            threshold=dedup_threshold,
            incoming_signed=dd_signed,
        )
        hits = pairs.groupBy("incoming_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_near_dups"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        trail = (
            trail.join(
                hits, trail[id_col] == hits["incoming_id"], "left"
            )
            .drop("incoming_id")
            .withColumn(
                "n_near_dups",
                F.coalesce("n_near_dups", F.lit(0).cast("long")),
            )
            .withColumn("near_dup", F.col("max_jaccard").isNotNull())
        )
        gates.append(~F.col("near_dup"))
    if substring_index_path is not None:
        spans = screen_against_substring_index(
            spark, substring_index_path, batch, id_col, text_col
        )
        frac = F.when(
            F.col("n_chars") > 0,
            F.round(F.col("dup_chars") / F.col("n_chars"), 6),
        ).otherwise(F.lit(0.0))
        trail = trail.join(
            spans.withColumn("dup_char_frac", frac).withColumn(
                "substr_reject",
                F.col("dup_char_frac") > F.lit(max_dup_char_frac),
            ),
            id_col,
            "left",
        )
        gates.append(~F.col("substr_reject"))
    if ccnet_store_dir is not None:
        ccnet = gatestats.screen_ccnet_frozen(
            spark,
            ccnet_store_dir,
            batch,
            id_col,
            text_col,
            unknown_strata=unknown_strata,
        ).withColumnRenamed("keep", "ccnet_keep")
        trail = trail.join(ccnet, id_col, "left")
        gates.append(F.coalesce("ccnet_keep", F.lit(False)))
    if drift_baseline_path is not None:
        psi = gatestats.psi_against_baseline(
            spark, drift_baseline_path, batch
        )
        mx = psi.agg(
            F.round(F.max("psi"), 6).alias("drift_psi_max")
        )
        trail = trail.crossJoin(F.broadcast(mx)).withColumn(
            "drift_alarm",
            F.coalesce(
                F.col("drift_psi_max") > F.lit(drift_psi_threshold),
                F.lit(False),
            ),
        )
    if binned_cutoff_path is not None:
        gated = gatestats.screen_against_binned_cutoffs(
            spark,
            binned_cutoff_path,
            batch,
            unknown_strata=unknown_strata,
        ).select(id_col, F.col("keep").alias("cutoff_keep"))
        trail = trail.join(gated, id_col, "left")
        gates.append(F.coalesce("cutoff_keep", F.lit(False)))
    if pq_index_path is not None:
        from .operators.similarity import screen_pq_ivf_index

        sem = screen_pq_ivf_index(
            spark,
            pq_index_path,
            vbatch,
            id_col,
            vec_col,
            threshold=semantic_threshold,
            nprobe=pq_nprobe,
        )
        trail = trail.join(sem, id_col, "left")
        gates.append(~F.coalesce("semantic_dup", F.lit(False)))
    accepted_col = F.lit(True)
    for g in gates:
        accepted_col = accepted_col & g
    trail = trail.withColumn("accepted", accepted_col)
    # freeze the verdicts BEFORE mutating any store the screens read
    trail = trail.localCheckpoint()
    if merge_accepted:
        ok_ids = trail.where("accepted").select(id_col)
        accepted_docs = batch.join(ok_ids, id_col, "left_semi")
        # the fold-back merges are INDEPENDENT O(batch) appends into
        # DISJOINT stores (each crash-atomic or idempotent on its own
        # terms — the single-writer caveat is per store, and this loop
        # is that store's single writer). Submit them from a small
        # driver thread pool so one merge's straggler tail back-fills
        # with the next merge's tasks (guide §2.6); the trail is
        # already checkpoint-frozen, so every merge reads frozen
        # inputs. Failure semantics match the sequential loop's
        # guarantee: each store is individually consistent, and the
        # first failure propagates after the in-flight futures drain.
        merges = []
        if dedup_index_path is not None:
            dd_acc = dd_signed.join(ok_ids, id_col, "left_semi")
            merges.append(
                lambda: merge_dedup_index(
                    spark,
                    dedup_index_path,
                    accepted_docs,
                    id_col,
                    text_col,
                    signed=dd_acc,
                )
            )
        if substring_index_path is not None:
            merges.append(
                lambda: merge_substring_index(
                    spark, substring_index_path, accepted_docs, id_col,
                    text_col,
                )
            )
        if hll_store_path is not None:
            stored = sketches.HLL_SIDECAR.read(spark, hll_store_path)
            merges.append(
                lambda: sketches.merge_cardinality_sketches(
                    spark,
                    hll_store_path,
                    accepted_docs,
                    list(stored["group_cols"]),
                    str(stored["value_col"]),
                )
            )
        if binned_cutoff_path is not None:
            merges.append(
                lambda: gatestats.merge_binned_cutoff_store(
                    spark, binned_cutoff_path, accepted_docs
                )
            )
        if pq_index_path is not None:
            from .operators.similarity import merge_pq_ivf_index

            ok_vecs = vbatch.join(ok_ids, id_col, "left_semi")
            merges.append(
                lambda: merge_pq_ivf_index(
                    spark, pq_index_path, ok_vecs, id_col, vec_col
                )
            )
        if url_index_path is not None:
            from .operators.webops import merge_url_index

            merges.append(
                lambda: merge_url_index(
                    spark, url_index_path, accepted_docs, url_col
                )
            )
        if merges:
            from concurrent.futures import ThreadPoolExecutor

            # drain EVERY future and surface every failure (ADVICE
            # r16): with a bare first-fut.result() loop, later merges
            # still ran to completion inside __exit__ but their
            # exceptions were silently discarded — on a multi-store
            # failure only one cause was reported while more stores
            # may have mutated than under the sequential loop.
            with ThreadPoolExecutor(
                max_workers=min(3, len(merges))
            ) as pool:
                futs = [pool.submit(m) for m in merges]
                errs = [
                    e
                    for f in futs
                    if (e := _future_exc(f)) is not None
                ]
            if errs:
                if len(errs) == 1:
                    raise errs[0]
                raise RuntimeError(
                    f"{len(errs)} fold-back merges failed: "
                    + "; ".join(f"{type(e).__name__}: {e}" for e in errs)
                ) from errs[0]
    return trail


def run_ingest_stream(
    spark,
    source_dir: str,
    schema,
    trail_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    **ingest_kwargs,
):
    """The :func:`ingest_micro_batch` loop as ONE Structured
    Streaming query — the deployment wrapper the lifecycle tests
    hand-wire: ``readStream`` over a parquet drop directory →
    foreachBatch → screen/fold via the composition → the per-doc
    decision trail lands in ``trail_dir`` partitioned by
    ``ingest_batch_id`` (append-only, so the audit survives every
    batch; re-delivered batches after a crash overwrite their OWN
    partition — foreachBatch is at-least-once, and without the
    partition overwrite a retry would duplicate trail rows).
    ``ingest_kwargs`` pass through to :func:`ingest_micro_batch`
    (store paths, thresholds, ``merge_accepted``...). Returns the
    started ``StreamingQuery`` — callers own its lifecycle
    (``awaitTermination`` / ``stop``); pass
    ``.trigger(availableNow=True)`` semantics by letting the source
    drain (the default here) or manage triggers on the returned
    query upstream.

    The checkpoint makes delivery at-least-once PER BATCH while the
    composition's fold-backs are APPEND-ONLY stores: a crash between
    the store merges and the checkpoint commit re-runs the batch,
    re-screening it against stores that already contain its accepted
    docs — they then screen as near-dups of themselves and are NOT
    re-merged (self-stabilizing), but their trail partition records
    the retry's verdicts; treat the trail as the audit of the LAST
    delivery, which is the one whose decisions stuck."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", int(max_files_per_trigger))
        .parquet(source_dir)
    )

    def _handle(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        trail = ingest_micro_batch(
            spark, batch_df, id_col, text_col, **ingest_kwargs
        )
        (
            trail.withColumn(
                "ingest_batch_id", F.lit(int(batch_id))
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch_id")
            .parquet(trail_dir)
        )

    return (
        stream.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
