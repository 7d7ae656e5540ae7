"""ETL benchmark for the kafkaconnect_spark engine (see README.md)."""
