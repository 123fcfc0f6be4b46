"""Explicit StructType schemas for every table in the engine.

The reference's data model is schema-fixed (PAGE-XML XSD + ocrd-tool.json
parameter schema, SURVEY.md §1.4); we mirror that with explicit StructTypes —
never schema inference — so scans prune columns and plans stay stable.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input corpus (BASELINE.json input_hint):
#   documents(doc_id: string,
#             spans: array<struct<kind, text, media_ref, offset>>)
# ---------------------------------------------------------------------------
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# Media side table (FIXTURES.md §2): synthetic scanned-page PNG blobs with
# ground truth used only by tests, never by the pipeline itself.
PAGE_BLOBS = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("image", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("dpi", T.IntegerType(), False),
        T.StructField("truth_border", T.ArrayType(T.IntegerType()), False),
        T.StructField("truth_labels", T.ArrayType(T.StringType()), False),
        T.StructField("truth_skew", T.DoubleType(), False),
    ]
)

# Per page-image results (FIXTURES.md §3.2). Emitted by the fused image stage.
PAGE_RESULTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("border", T.ArrayType(T.IntegerType())),  # [x1,y1,x2,y2]
        T.StructField("perfect", T.BooleanType()),  # all 4 border lines found
        T.StructField("skew", T.DoubleType()),
        T.StructField("features", T.StringType()),  # 'binarized,deskewed,cropped'
        T.StructField("scores", T.ArrayType(T.DoubleType())),  # 21 label scores
        T.StructField("labels", T.ArrayType(T.StringType())),
        T.StructField("n_text_regions", T.IntegerType()),
        T.StructField("n_image_regions", T.IntegerType()),
        T.StructField("ink_ratio", T.DoubleType()),
    ]
)

# Document structure fold output (FIXTURES.md §3.3, ref layout_analysis.py:140-220)
DOC_STRUCTURE = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "divs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("log_id", T.IntegerType()),
                        T.StructField("label", T.StringType()),
                        T.StructField("parent_id", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "links",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("log_id", T.IntegerType()),
                        T.StructField("media_ref", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

# Checkpoint / lineage table (north_rule resumability; SURVEY.md §2.1 S6)
CHECKPOINT = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("latency_ms", T.LongType(), False),
        T.StructField("lineage", T.StringType(), False),
    ]
)
