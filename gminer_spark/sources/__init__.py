"""Table layouts beyond plain parquet: bucketed edge storage
(:mod:`gminer_spark.sources.bucketed`)."""
