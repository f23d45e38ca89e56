"""Fixed StructType schemas, end-to-end.

The reference is schema-on-write-free (dynamic dicts typed only at the
Elasticsearch sink, conf/templates/spamscope_mails.json:43-141). We invert
that: the input schema is pinned (BASELINE.json input_hint) and every
enrichment stage adds typed columns.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input: Iceberg/parquet table of multi-turn conversation/agent transcripts.
TURNS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)

# Disassembled URL struct — analog of the Faup output documented at
# reference src/modules/utils.py:145-160.
URL_STRUCT = StructType(
    [
        StructField("url", StringType(), True),
        StructField("scheme", StringType(), True),
        StructField("host", StringType(), True),
        StructField("domain", StringType(), True),
        StructField("subdomain", StringType(), True),
        StructField("tld", StringType(), True),
        StructField("resource_path", StringType(), True),
        StructField("query_string", StringType(), True),
    ]
)

# Enriched per-turn output row — analog of the reference's composed JSON
# document (src/bolts/json_maker.py:33-75) recast per FIXTURES.md §2.
ENRICHED_SCHEMA = StructType(
    list(TURNS_SCHEMA.fields)
    + [
        StructField("md5", StringType(), True),
        StructField("sha1", StringType(), True),
        StructField("sha256", StringType(), True),
        StructField("sha512", StringType(), True),
        StructField("shingle_sig", StringType(), True),
        StructField("urls", ArrayType(URL_STRUCT), True),
        StructField("targets", ArrayType(StringType()), True),
        StructField("phishing_score", IntegerType(), True),
        StructField("score_expanded", ArrayType(StringType()), True),
        StructField("with_phishing", BooleanType(), True),
        StructField("is_filtered", BooleanType(), True),
    ]
)
