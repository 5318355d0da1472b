"""canal_phoenix_adapter_spark — a PySpark-native CDC apply + ETL engine.

Re-expresses the capabilities of wenjunxiao/canal-phoenix-adapter
(a Canal->Phoenix CDC apply engine + batch backfill tool, reference at
/root/reference) in idiomatic Spark DataFrame / Structured Streaming
terms, plus large-scale training-data-pipeline extensions (dedup,
similarity search, text analysis, multimodal plumbing).

Layout (SURVEY.md §7.0; scale design ledger in SCALE.md):
    config        MappingConfig dataclass + YAML loader     (~ config/*)
    notify        HTTP notify hook on schema change
    functions/    column-expression builders: coercion, enums, hashing, skew salting
    sources/      table loaders, Canal event envelope/explode, JDBC options
    operators/    transform, merge (CDC apply), etl, schema_sync, asof,
                  dedup, similarity, text, sampling, multimodal, analytics
    sinks/        executor-side Phoenix write loop
    streaming/    Structured Streaming glue, versioned state store
                  (time travel, erasure)
"""

__version__ = "0.1.0"
