"""S2/K1 — the reference's ``key TAB value`` report-file edge.

Reference: TextOutputFormat writes ``key\\tvalue`` part files
(SanFranciscoCrime.java:220), re-read line-by-line with a manual
split-on-TAB then CSV-parse of the value (DataFile.java:43-57,
LoadStarDB.java:245-272).

Spark-first: tab-separated ``spark.read.csv`` / ``df.write.csv`` —
the value side stays a properly quoted CSV string via ``to_csv`` /
``from_csv`` so round-trips preserve embedded commas and quotes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_report(df: DataFrame, key_col: str, value_cols: list[str], path: str) -> None:
    """K1: serialize to ``key TAB csv(values)`` part files, key-sorted
    (O3 — consumers like Kettle Unique assume sorted input)."""
    out = df.select(
        F.col(key_col).alias("key"),
        F.to_csv(F.struct(*[F.col(c) for c in value_cols])).alias("value"),
    ).orderBy("key")
    out.write.mode("overwrite").option("sep", "\t").csv(path)


def read_report(
    spark: SparkSession, path: str, value_schema: T.StructType
) -> DataFrame:
    """S2/S4: read ``key TAB value`` files, CSV-parse the value struct."""
    raw = spark.read.option("sep", "\t").csv(
        path,
        schema=T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("value", T.StringType()),
            ]
        ),
    )
    return raw.select("key", F.from_csv("value", value_schema.simpleString()).alias("v")).select(
        "key", "v.*"
    )
