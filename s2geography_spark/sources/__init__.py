"""Table sources: synthetic Common-Crawl-style pages + region dimension."""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def arrow_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """DataFrame over Python `rows` with the schema `ddl` (names, types and
    nullability), built from a pyarrow.Table: a LocalRelation that every
    scan reads in the JVM.  createDataFrame(list) would make a Python RDD
    (applySchemaToPythonRDD), so every scan would start a Python worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    schema = T.StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [[] for _ in schema.fields]
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow), schema)
