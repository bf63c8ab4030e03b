"""etl_airbnb_mex_spark — a PySpark-native analytics engine.

Brand-new implementation of the query and data-processing capabilities of
the reference ETL+analytics project (TheTGM/ETL-AIRBNB-MEX), re-expressed
Spark-first: lazy DataFrame plans compiled by Catalyst, explicit schemas,
native column expressions instead of row-at-a-time Python, shuffles only
at groupBy/join/window boundaries, AQE for runtime re-planning.

Layout:
  session     — SparkSession factory; local[$SPARK_GRAFT_CPUS], by default the
                CPU-affinity count
  tables      — loaders for the parquet test tables (TESTDATA.md)
  functions/  — scalar Column builders (SURVEY.md §2.9 F1–F21)
  operators/  — relational/dataflow operators (SURVEY.md §2.1–2.8, §2.11)
  plans/      — the reference's E-T-L + analytics as declarative plans
  sources/    — readers/writers (parquet, JSONL w/ Mongo extended JSON)
  multimodal/ — binary media columns + Arrow-batched codec plumbing
  queries     — the oracle-checked query registry driving __spark_entry__.py
"""

__version__ = "0.1.0"
