"""serialization_agents_spark — a PySpark-native agent knowledge-graph
construction engine.

A brand-new, Spark-first re-imagining of the capabilities of
nypl-registry/serialization-agents (a Node.js + MongoDB batch ETL that
serializes "agent" mentions out of library/archive records, links them to
VIAF/LCNAF authorities, merges them into a canonical agents lookup table,
and enumerates sequential registry ids).

This engine re-expresses those semantics over columnar tables
(Parquet / Iceberg-style layouts) with the DataFrame API:

- ``operators.extract``     — boilerplate-stripped text extraction (Column expressions)
- ``operators.mentions``    — agent-mention detection (vectorized gazetteer)
- ``operators.linking``     — blocking-key candidates (broadcast joins), fuzzy
  scoring + per-mention top-1 (window)
- ``operators.merge``       — priority merge algebra (salted two-phase agg)
- ``operators.canonicalize``— connected-components canonicalization
- ``operators.triples``     — (subj, pred, obj) triple materialization
- ``operators.enumerate_ids``— scalable sequential registry-id assignment
- ``operators.dedup``       — exact / MinHash-LSH / SimHash / n-gram dedupe
- ``operators.similarity``  — embedding cosine top-k (brute force + LSH)
- ``operators.multimodal``  — binary media column plumbing (decode stubbed)
- ``functions.*``           — normalization, fuzzy scoring, text analysis
- ``plans.pipeline``        — end-to-end runner with per-stage lineage rows + resume

Everything here is public-API PySpark; no RDDs, no per-row Python UDFs in
hot paths (vectorized pandas/Arrow UDFs only).
"""

__version__ = "0.1.0"
