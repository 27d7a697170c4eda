"""pgferry_spark — a PySpark-native analytics & data-movement engine.

A from-scratch rebuild of the capabilities of the reference tool
Limetric/pgferry (a Go batch ETL database-migration tool; see SURVEY.md),
re-expressed Spark-first:

* catalog/   — relational catalog model + identifier normalization + parsers
* types/     — per-source (MySQL/SQLite/MSSQL) type & default mapping
* functions/ — Column-expression transform library (the reference's
               ``TransformValue`` layer as JVM-side expressions, no row UDFs)
* plans/     — chunk (range-partition) planner, checkpoint/resume, validation
* operators/ — relational operators (anti-join orphan cleanup, analytics,
               dedup, similarity search, text analysis)
* sources/   — chunk-predicate readers (parquet/JDBC) and write sinks
* multimodal/— binary (image/audio/video) column plumbing over mapInPandas

Everything here derives from public knowledge only: the PySpark API and the
reference repo's observable behavior (cited as ``file:line`` into
/root/reference in docstrings).
"""

__version__ = "0.1.0"
