"""dynamic_etl_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference ETL system (vschejarla/Dynamic-ETL), designed
for 100 TB scale: declarative DataFrame/SQL plans (Catalyst + AQE do the
physical planning), broadcast joins for small dimensions, zero row-at-a-time
Python UDFs in the hot path, and Structured Streaming for incremental file
ingestion.

Layout (see SURVEY.md §7):
    session.py     SparkSession factory (AQE on, Arrow on, UTC, decimal-safe)
    catalog.py     testdata table names + table loading
    ops/           operator library (clean/dates/money/keys/joins/dedup/merge/agg)
    io_/           sources, sinks, incremental file queue
    llm/           large-scale training-data ops (dedup, similarity, text, multimodal)
    streaming/     windowed aggregation + file-queue streaming
    validate.py    DataFrame-native data-quality validator
    generate.py    seeded synthetic generators (reference-shaped star schema)
    pipeline.py    ordered step graphs (the reference's 4 DAGs as code)
    registry.py    driver-facing query registry (Spark callable + DuckDB oracle SQL)
"""

__version__ = "0.1.0"
