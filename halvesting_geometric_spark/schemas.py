"""Explicit StructType schemas — the engine's catalog.

The reference has no schema system (pandas inference on JSON read,
``/root/reference/halvesting_geometric/utils/helpers.py:306-332``, with ad-hoc
dtype pinning at CSV read, ``.../link_prediction_metadata.py:207``). Here every
table is schema-pinned; no inference anywhere.

Shapes per ``/root/repo/BASELINE.json`` ``input_hint`` and ``FIXTURES.md``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The single external input (input_hint): multi-turn conversation transcripts.
# Analog of the reference's HAL JSON corpus + GROBID XML bibliography
# (/root/reference/build_metadata.py:50-68).
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Conversation-level directed citation edges, pre vertex-id assignment.
# Analog of the (halid → cited title/year) pairs emitted by _compute_citations
# (/root/reference/.../link_prediction_metadata.py:285-310).
CONV_EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src_conv", T.StringType(), False),
        T.StructField("dst_conv", T.StringType(), False),
    ]
)

# Dense 0-based vertex ids. Analog of paper_idx assignment
# (/root/reference/.../link_prediction_metadata.py:312-319,380-422) — done
# correctly at scale (the reference documents its own per-partition index bug
# at link_prediction_metadata.py:349-353).
VERTICES_SCHEMA = T.StructType(
    [
        T.StructField("vertex_id", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), False),
    ]
)

# Integer COO edge table. Analog of edges/paper__cites__paper.csv
# (/root/reference/.../link_prediction_metadata.py:332-337).
EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)

RANKS_SCHEMA = T.StructType(
    [
        T.StructField("vertex_id", T.LongType(), False),
        T.StructField("rank", T.DoubleType(), False),
    ]
)

COMPONENTS_SCHEMA = T.StructType(
    [
        T.StructField("vertex_id", T.LongType(), False),
        T.StructField("component", T.LongType(), False),
    ]
)

LABELS_SCHEMA = T.StructType(
    [
        T.StructField("vertex_id", T.LongType(), False),
        T.StructField("label", T.LongType(), False),
    ]
)

TRIANGLES_SCHEMA = T.StructType(
    [
        T.StructField("vertex_id", T.LongType(), False),
        T.StructField("triangles", T.LongType(), False),
    ]
)
