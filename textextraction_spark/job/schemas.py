"""Engine schemas (SURVEY.md §1.4).

``PAGES_SCHEMA``     — the input table per BASELINE.json input_hint.
``EXTRACTED_SCHEMA`` — the results table, the ``AppImageOcr`` audit-row
analog (``TextExtraction/Model/ImageOcr.cs:8-17``): extracted text + span
offsets + confidence + lineage columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("line", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("rect", T.StringType(), False),
    ]
)

# Columns produced by the mapInArrow kernel itself.
EXTRACT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("n_lines", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("is_pdf", T.BooleanType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# Full results-table schema = kernel output + lineage (added by the plan:
# part_id from spark_partition_id, batch_id from job config).
EXTRACTED_SCHEMA = T.StructType(
    EXTRACT_OUTPUT_SCHEMA.fields
    + [
        T.StructField("part_id", T.IntegerType(), True),
        T.StructField("batch_id", T.StringType(), True),
    ]
)
