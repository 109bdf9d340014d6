"""Engine schemas (SURVEY §1).

The reference's data model is one record shape — a rating —
declared three times (CQL DDL at src/sql/collab_filter_setup.sql:4-5,
Java bean RatingDO.java:17-20, positional CSV parse at
CollabFilterCassandraDriver.java:131-132). Here the CSV shape is the
one StructType below, and the stored tables' shape is the projection
in ``etl.to_rating_rows``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Tag constants for the raw CSV's set column (RatingDO.java:14-15 uses the
# line prefixes "I," / "V,"; with a schema'd reader the tag is a column).
TRAINING_TAG = "I"
VALIDATION_TAG = "V"

# Raw CSV: 11 positional fields, no header (data/csv/readme.txt:2-11).
# Only fields 0-3 are semantic; 4-10 are spreadsheet-generator scaffolding
# kept as strings so the reader never fails on them, then pruned.
RAW_CSV_SCHEMA = T.StructType(
    [
        T.StructField("set", T.StringType(), True),
        T.StructField("user", T.IntegerType(), True),
        T.StructField("product", T.IntegerType(), True),
        T.StructField("rating", T.DoubleType(), True),
    ]
    + [T.StructField(f"gen{i}", T.StringType(), True) for i in range(4, 11)]
)
