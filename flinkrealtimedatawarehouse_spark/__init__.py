"""PySpark-native analytics engine with the query & data-processing
capabilities of ogleede/flinkRealTimeDataWareHouse (a Flink 1.12 real-time
e-commerce warehouse), re-expressed Spark-first.

Layout (see SURVEY.md for the operator inventory this covers):

- ``session``      — SparkSession factory (timezone/AQE/shuffle tuned).
- ``tables``       — parquet table catalog over the testdata star schema.
- ``schemas``      — StructType constants for the gmall-domain inputs
                     (behavior log, CDC envelope, config table).
- ``timeutil``     — type-agnostic event-time arithmetic (timestamp /
                     timestamp_ntz / numeric inputs).
- ``operators``    — batch/DataFrame re-expressions of every reference
                     operator: log split (P1-P3), routing (P4/P5/J5),
                     filters (P6/P7), joins (J1-J4, P8/P9, as-of/range),
                     aggs (A1-A4, W2/W3, GROUPING SETS), dedup (A5),
                     is_new (A6), bounce (W1/U3), sessions (W4), unions +
                     fused rewrite (U1/U2), ADS layer (A7-A11, O1/O2),
                     MERGE upsert + SCD2 history + changelog diff (K3),
                     data-quality expectations, gap filling, HLL sketches,
                     skew salting, table layout (partition/Z-order/
                     small-file ``compact_dir``).
- ``functions``    — F1 tokenizer (built-in split + CJK-bigram fallback).
- ``streaming``    — Structured Streaming forms: sources/sinks (S1/S6,
                     K1-K5), watermarked aggregations and joins (T1-T3),
                     stateful dedup/bounce (T5/T7), session windows,
                     foreachBatch routing + upsert (K2/K3), streaming
                     near-dup band state, checkpointing (T9), RocksDB
                     state store option; every growing sink state and
                     the streamed search indexes live in one versioned
                     store (``streaming.partstore``).
- ``datapipeline`` — large-scale training-data ops: dedup (exact/MinHash/
                     SimHash/Jaccard/embedding/line-level), ANN similarity
                     (brute-force/LSH/IVF/PQ, persisted index, k-means,
                     measured recall), BPE tokenizer training, text
                     analysis, PII redaction, decontamination, mix/pack/
                     split curation, multimodal column plumbing.
- ``serving``      — the reference's SQL-only ADS surface as Spark SQL
                     views (``register_serving_views``): every mapper
                     query runnable via ``spark.sql`` with no DataFrame
                     code.

Everything here is plain PySpark DataFrame/SQL — Catalyst owns the physical
plan; Python UDFs appear only where built-ins cannot express the semantics
(tokenization fallback, stateful CEP timeout), and then as Arrow-batched
pandas UDFs.
"""

__version__ = "0.1.0"
