"""airstrik_py_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of quantumbagel/airstrik.py.

The reference (/root/reference/airstrik.py) is a single-threaded Python
streaming loop: ADS-B micro-batch ingest -> per-aircraft stateful tracking ->
derived kinematics -> predictive geofence alarm -> Mongo/Kafka sinks -> daily
rollup.  This package re-expresses every one of those operators Spark-first:
DataFrame/SQL logical plans optimized by Catalyst, session windows for trips,
window functions for kinematics, broadcast joins for enrichment, and
Structured Streaming for the live path.

Layout (SURVEY.md §7):
  config.py               config.yaml semantics as a dataclass (§1.6)
  session.py              SparkSession builder: local[<process CPUs>] + cluster
  functions/geo.py        haversine / bearing / forward-geodesic Column exprs
  functions/text.py       tokenize / quality / langid / fingerprint exprs
  functions/vector.py     cosine similarity over array<float> columns
  sources/tables.py       testdata parquet readers + events->observations map
  sources/snapshot.py     S1 streaming snapshot source (aircraft.json shape)
  operators/kinematics.py W1-W4, W8 dedup + heading + speed + distance
  operators/sessions.py   W5 sessionization, F3, A2 argmin, J2 as-of, A3 trips
  operators/alarm.py      F2 geofence match, D1 dead-reckoning, D2 payloads
  operators/stats.py      A1 daily stats, A4, A6, A7
  operators/decimation.py F4 decimated detail sink gate
  operators/search.py     F6 predicate search, J3 ts-conjunction
  operators/dedup.py      exact / minhash-LSH / simhash / ngram-jaccard dedup
  operators/similarity.py brute-force + LSH-bucketed ANN over embeddings
  operators/multimodal.py binary-column plumbing over real PNG/BMP/WAV decode
  sinks/                  S3-S9 sink adapters (parquet/csv/json/kafka-payload)
  streaming/pipeline.py   readStream wiring, foreachBatch, stream==batch parity
  oracle/                 DuckDB-dialect SQL mirrors used by __spark_entry__
"""

__version__ = "0.1.0"
