"""ontology_graph_etl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of
``mendelhealth/ontology-graph-etl`` (reference snapshot at /root/reference):
a medical-ontology property-graph ETL whose operators — JSONL/tabular scans,
config-driven projection, filters, lookup/anti/edge joins, first-wins upsert,
keyed update, enrichment, and the graph queries the resulting ontology serves
(one-hop, motifs, transitive closure) — are implemented here as idiomatic
Spark DataFrame plans (Catalyst-optimized, shuffle-aware, no per-row Python),
plus the large-scale training-data-pipeline extensions (dedup, similarity
search, text analysis, streaming windows).

Layout:
    session     SparkSession factory (AQE, Arrow, sane shuffle defaults)
    schemas     pinned StructTypes for the testdata tables (TESTDATA.md)
    io          parquet/JSONL/text readers for the driver testdata + fixtures
    functions/  scalar expression helpers (sanitize, split-first, templating)
    operators/  relational core, upsert, graph, dedup, similarity, text
    sources/    config-driven tabular extraction, HTTP enrichment (mockable)
    sinks/      parquet/text writers, cypher-codegen compat, Neo4j batch sink
    streaming/  Structured Streaming surface (windows, watermark dedup)
    pipelines   the reference's three entry-point flows, end to end
"""

__version__ = "0.1.0"
