"""spark_states_spark — a PySpark-native stateful analytics engine.

Re-expresses the capabilities of chermenin/spark-states (a RocksDB-backed
``StateStoreProvider`` for Spark Structured Streaming, reference at
``/root/reference``) as an idiomatic PySpark engine:

- ``session``   — SparkSession builder helpers incl. ``use_rocksdb_state_store``
                  (parity with reference ``implicits.scala:32-38``).
- ``config``    — state-TTL configuration registry (parity with reference
                  ``RocksDbStateStoreProvider.scala:699-769``).
- ``sources``   — batch + streaming readers over the test parquet tables.
- ``operators`` — batch relational operator catalog (the query surface Spark
                  exposes above the state-store SPI).
- ``streaming`` — stateful streaming operators: windowed aggregation, dedup,
                  stream-stream joins, keyed state with per-query TTL
                  (parity with reference TTL semantics, README.md:34-49).
- ``functions`` — LLM-data-pipeline function library: dedup (exact/minhash/
                  simhash/ngram-jaccard/embedding), similarity search, text
                  analysis, multimodal column plumbing.
- ``plans``     — plan-inspection helpers (pushdown / broadcast assertions).
- ``lifetime``  — the one registry owning every pinned resource (checkpoint
                  blocks, sink slots, temp views, checkpoint dirs) per
                  (applicationId, tag) until an explicit release.
"""

__version__ = "0.1.0"
