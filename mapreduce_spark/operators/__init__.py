from mapreduce_spark.operators.mapphase import VIEW_SCHEMA, MapSpec

__all__ = ["VIEW_SCHEMA", "MapSpec"]
