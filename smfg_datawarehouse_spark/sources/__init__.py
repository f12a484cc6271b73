"""Sources & sinks: three-zone parquet lake + partitioned JDBC reader."""

from smfg_datawarehouse_spark.sources.lake import LakeZones
from smfg_datawarehouse_spark.sources.jdbc import jdbc_reader_options

__all__ = ["LakeZones", "jdbc_reader_options"]
