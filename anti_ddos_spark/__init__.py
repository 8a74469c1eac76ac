"""anti_ddos_spark — a PySpark-native analytics engine.

A ground-up, Spark-first re-expression of the query/data-processing
capabilities of the reference DDoS-detection pipeline (canhtungdz/anti-ddos):

- packet → flow sessionization with the full CICFlowMeter-style 77-feature
  aggregate surface, expressed as Catalyst-native Column expressions
  (no Python UDFs in the hot path),
- batch and Structured Streaming execution sharing one expression library,
- the generic relational operator surface (joins, set ops, windows,
  grouping sets, top-k, approximate sketches),
- an MLlib RandomForest train/score pipeline,
- large-scale training-data-pipeline operators: deduplication (exact,
  MinHash-LSH, SimHash), similarity search over embeddings, text analysis,
  and multimodal column plumbing.

Everything is declarative DataFrame/SQL so Catalyst/Tungsten/AQE pick the
physical strategy; the design target is a 1000-executor cluster at ~100 TB,
tested locally against small scale factors with a DuckDB oracle.
"""

__version__ = "0.1.0"
