"""Extended sources and sinks: the spreading table loader and the
parquet sinks."""
