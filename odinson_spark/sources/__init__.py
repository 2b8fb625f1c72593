"""Sources & sinks: reference-format document JSON and mention
serialization. Stage tables are parquet through the Hadoop FileSystem API
(pipeline/checkpoint.py)."""
