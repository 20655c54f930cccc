"""knowledgebot_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of LaurenceMolloy/KnowledgeBot.

The reference (/root/reference) is a single-threaded Python pipeline:
Slack scan -> regex knowledge-block extract -> metadata enrich -> file sink,
plus a vector-ingest path (chunk -> embed -> store) and a declared top-k
semantic search API.  This package re-expresses every one of those
capabilities as idiomatic Spark DataFrame plans (Catalyst-optimized,
whole-stage-codegen friendly), adds the generalized relational surface
(SURVEY.md §2.3) and LLM-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) designed for 100 TB scale.

Layout:
    session.py    SparkSession factory (UTC, AQE, arrow)
    config.py     typed engine config (mirrors reference Config/Schema.py)
    tables.py     testdata table loaders
    model.py      deterministic Slack-like model derived from the testdata
    registry.py   query catalog: name -> (spark fn, oracle SQL)
    operators/    extraction spine, chunker, embedding, search, dedup,
                  text analysis, multimodal
    sinks/        idempotent keyed parquet sink + checkpoint state
    streaming/    structured-streaming variants (watermark = 7d lookback)
"""

__version__ = "0.2.0"
