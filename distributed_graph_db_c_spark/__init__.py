"""PySpark-native analytics engine with the query surface of
devgala/Distributed-Graph-DB-C, rebuilt Spark-first.

The reference (read-only at /root/reference) is a 5-process C system that
stores undirected graphs as adjacency-matrix text files and serves four
operations: add graph, modify graph, DFS leaf report, BFS traversal
(see SURVEY.md for the full audit).  This package re-expresses that
surface — plus the large-scale data-pipeline operators a 100 TB training
corpus needs (dedup, similarity search, text analysis, multimodal
plumbing) — as idiomatic PySpark DataFrame programs:

- ``session``     SparkSession factory tuned for AQE + Arrow.
- ``schemas``     canonical StructTypes (single source of truth).
- ``sources``     ingest codecs: reference G-format matrices, parquet tables.
- ``catalog``     GraphCatalog — one parquet row per named graph
                  (reference ops 1/2: add/modify = dynamic partition overwrite).
- ``operators``   traversal (BFS/DFS-leaf/connected components), dedup,
                  similarity, text analysis, multimodal, relational queries.
- ``functions``   reusable Column expressions (vector math, text metrics).
- ``streaming``   requests-as-a-stream dispatch (Structured Streaming).
"""

__version__ = "0.1.0"
