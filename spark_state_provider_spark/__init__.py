"""spark_state_provider_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference library
``Shaboodi/spark-state-provider`` (a set of Spark Structured Streaming
``StateStoreProvider`` plugins — RocksDB / Redis / Aerospike — plus a
state-TTL extension and SparkSession/DataStreamWriter helpers) as an
idiomatic PySpark engine:

* ``session``      — SparkSession builder helpers mirroring the reference's
  ``useRocksDBStateStore()`` implicits (reference: ``rocksdb/implicits.scala:34-37``)
  on top of Spark's native RocksDB state store.
* ``streaming``    — state-timeout (TTL) semantics (reference:
  ``RocksDbStateStoreProvider.scala:57-80``), stateful map handlers
  (``applyInPandasWithState``/``transformWithStateInPandas``), windowed /
  session / watermark / dedup / stream-stream-join operators.
* ``operators``    — the batch relational inventory (SURVEY.md §2-C) plus
  LLM-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), similarity search, text analysis,
  multimodal column plumbing.
* ``functions``    — vector / text column expression builders (JVM-side
  ``pyspark.sql.functions`` compositions; pandas UDFs only where built-ins
  cannot express the semantics).
* ``plans``        — plan-inspection helpers (pushdown / broadcast / codegen
  assertions) used by tests and the bench harness.

Everything here is built only on the public Apache Spark API.

The package itself imports nothing: Spark runs ``worker_daemon`` as
``python -m`` under it, and that module must cut Spark's zips off
``sys.path`` before pyspark is first imported. Import from the modules
(``from spark_state_provider_spark.session import get_spark``).
"""

__version__ = "0.1.0"
