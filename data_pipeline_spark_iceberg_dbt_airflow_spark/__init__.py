"""PySpark-native analytics engine with the query and data-processing
capabilities of `BraulioHermanson/Data-pipeline-spark-iceberg-dbt-airflow`.

The reference (surveyed in /root/repo/SURVEY.md) is a batch ELT lakehouse:
PySpark ingestion -> Iceberg tables -> dbt SQL models (staging -> marts),
orchestrated by Airflow. This package re-expresses that surface -- and the
full Spark SQL capability envelope it exposes through spark-sql / Thrift --
as an idiomatic PySpark library:

- ``session``   : SparkSession factory (local dev; cluster-ready configs)
- ``io``        : table readers, file sources and catalog DDL (plain Parquet)
- ``snapshots`` : the table format: append/overwrite/merge commits, snapshot
                  listing and time travel over Parquet (the Iceberg role)
- ``sources``   : batch ingestion (pluggable HTTP-style fetchers, failure
                  isolation, single-batch-timestamp semantics)
- ``plans``     : dbt-style model transforms + a topological pipeline runner
- ``operators`` : hand-built relational operators Spark lacks natively
                  (as-of join, dedup family, similarity search, multimodal)
- ``functions`` : scalar/vector helper expressions (text stats, cosine, ...)
- ``streaming`` : Structured Streaming variants of the windowed aggregations
- ``quality``   : dbt-test-style data-quality checks as DataFrame assertions
- ``queries``   : the registry of named queries; each entry pairs a PySpark
                  implementation with an ANSI-SQL oracle (DuckDB-runnable)

Everything is DataFrame/SQL-first: logical plans are declared declaratively
and Catalyst/Tungsten pick the physical strategy. Python UDFs appear only
where built-ins genuinely cannot express the semantics, mostly as
Arrow-vectorized pandas UDFs; the X1 row-UDF tier
(``operators.udfs.band_udf``) is a pickled row UDF on purpose
(``useArrow=False``).
"""

__version__ = "0.1.0"
