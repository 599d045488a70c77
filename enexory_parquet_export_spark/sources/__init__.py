"""Sources & sinks: parquet fixtures, JDBC, and the day-partitioned
parquet writer."""
