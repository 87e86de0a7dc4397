"""Sinks — file writers (JSON-array interop, training shards), the
cypher-codegen compatibility text sink, and a correctly-batched Neo4j
push."""

from . import cypher_codegen, neo4j, writers

__all__ = ["cypher_codegen", "neo4j", "writers"]
