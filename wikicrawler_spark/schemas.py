"""Canonical schemas for the span-extraction engine.

Input/output shape is fixed by BASELINE.json ``input_hint``:
    docs(doc_id: string,
         spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>)

Input span kinds:  'html' | 'text' | 'media'   (the raw interleaved document)
Output span kinds: 'title' | 'paragraph' | 'heading' | 'link' | 'media'
                   | 'wikitable' | 'see_also' | 'toc' | 'reference' | 'category'

The output kinds map 1:1 onto the reference extractor's products — see
SURVEY.md §1.3 and the citations there (e.g. paragraphs:
/root/reference/src/wikicrawler/core/grabber.py:203-229).
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# Engine output: same (doc_id, spans) shape, output kinds. Kept identical so
# extraction composes (extract(extract(x)) type-checks) and golden equality
# is a plain DataFrame comparison.
SPANS_OUT_SCHEMA = DOC_SCHEMA

# Flat (exploded) span rows — what downstream relational ops consume.
FLAT_SPAN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# Crawl bookkeeping (FIXTURES.md §1.3). The reference keeps 'visited' as the
# SQLite pages table probed per-URL (grabber.py:169); here it is a table
# anti-joined per wave.
VISITED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("wave", T.IntegerType(), False),
    ]
)

# One crawl wave's frontier: the docs to extract, each with the lowest-id
# doc of the previous wave that links to it (NULL for a seed).
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("parent_doc_id", T.StringType(), True),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("parent_doc_id", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("docs_in", T.LongType(), False),
        T.StructField("spans_out", T.LongType(), False),
        T.StructField("links_out", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src_doc_id", T.StringType(), False),
        T.StructField("dst_doc_id", T.StringType(), False),
    ]
)

INPUT_KINDS = ("html", "text", "media")
OUTPUT_KINDS = (
    "title",
    "paragraph",
    "heading",
    "link",
    "media",
    "wikitable",
    "see_also",
    "toc",
    "reference",
    "category",
)

# DDL strings for mapInPandas / applyInPandas signatures.
SPAN_STRUCT_DDL = "kind string, text string, media_ref string, offset int"
DOC_DDL = f"doc_id string, spans array<struct<{SPAN_STRUCT_DDL}>>"
FLAT_SPAN_DDL = "doc_id string, kind string, text string, media_ref string, offset int"
