"""cassandra_es_index_spark — a PySpark-native analytics/search engine.

Re-expresses the capabilities of the reference Cassandra→Elasticsearch
secondary-index plugin (GenesysPureEngagePremise/cassandra-es-index) as an
idiomatic Spark engine:

- ``docmodel``  — row→document transformation (type normalization, doc-id
  synthesis, TTL/metadata fields)       [ref: ElasticIndex.java:470-586]
- ``search``    — Lucene-ish ``query_string`` + ES-query-DSL subset compiled
  to Catalyst Column predicates + deterministic relevance scores
                                         [ref: ElasticIndex.java:658-672]
- ``indexstore``— parquet-backed index table with segment partitioning,
  upsert-merge, TTL sweep, truncate/drop [ref: DefaultIndexManager.java]
- ``streaming`` — micro-batch incremental indexing (upsert per mutation,
  last-writer-wins per key, delete policy) [ref: indexers/EsIndexer.java]
- ``pins``      — materialized frames that own their data: the index
  states' caches, co-owned by PIT and scroll handles
- ``operators`` — scale operators beyond the reference surface: dedup
  (exact/MinHash-LSH/SimHash/n-gram-Jaccard), similarity search (cosine
  top-k, LSH-bucketed ANN), multimodal binary columns, text analysis.

Everything is DataFrame-first: Catalyst handles pushdown, pruning, join
strategy, and codegen; Python/pandas UDFs appear only where built-in
operators cannot express the semantics.
"""

from cassandra_es_index_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
