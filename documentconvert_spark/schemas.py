"""Fixed StructType schemas (SURVEY.md §1.2).

These replace the reference's double-declared schema (SQLAlchemy ORM at
`database/models.py:40-88` + Pydantic at `database/models.py:129-215`).
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        # heading depth 1..6 (0 for non-heading spans) — MinerU title
        # hierarchy (MM_MD), reference services/document_service.py:272
        T.StructField("level", T.IntegerType(), False),
    ]
)

SPANS_TYPE = T.ArrayType(SPAN_STRUCT, containsNull=False)

# documents_raw — extractor input (FIXTURES.md Table 1)
DOCUMENTS_RAW = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("doc_type", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("source_bucket", T.StringType(), True),
        T.StructField("source_path", T.StringType(), True),
    ]
)

# result of the extraction UDF (per row; error captured, never thrown —
# reference error containment, document_service.py:119-126, 334-383).
# markdown/n_spans are computed inside the same UDF: the MM_MD fold is a
# pure function of the spans, and fusing it avoids a second JVM↔Python
# Arrow round trip of the nested span arrays (the dominant cost at scale).
EXTRACT_RESULT = T.StructType(
    [
        T.StructField("spans", SPANS_TYPE, True),
        T.StructField("markdown", T.StringType(), True),
        T.StructField("n_spans", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("error_class", T.StringType(), True),
        T.StructField("processing_s", T.DoubleType(), True),
    ]
)

# extraction_state — checkpoint/metrics table (FIXTURES.md Table 3)
EXTRACTION_STATE = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
        T.StructField("processing_s", T.DoubleType(), True),
        T.StructField("n_spans", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("error_class", T.StringType(), True),
        T.StructField("lineage", T.StringType(), True),
        # the run that produced this row, as DATA (not just the run_id=
        # directory name): it must survive state compaction because the
        # committed-output reader joins output run dirs against it
        T.StructField("src_run_id", T.StringType(), True),
    ]
)
