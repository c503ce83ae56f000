"""Stable, order-independent document IDs.

The reference auto-increments doc IDs from file length
(/root/reference/src/Sir.Document/DocIndexWriter.cs:28-35) — unusable on a
cluster.  Per the north rule, docID = (conv_id, turn_idx) under stable turn
ordering.  For compact, delta-encodable postings we pack the composite key
into one int64:

    doc_id = conv_slot << TURN_BITS | turn_idx

where ``conv_slot`` is a dense rank of conv_id assigned by a one-time
sort + zipWithIndex over the (much smaller) conversation dimension.  Since
slots are assigned in conv_id order, sorting by doc_id == sorting by
(conv_id asc, turn_idx asc) — the deterministic tie-break order.

Scale notes (100 TB / 10^12 turns):
* conv_dim is ~10^8-10^9 rows — distinct+sort+zipWithIndex is fully
  distributed (zipWithIndex runs one lightweight count-per-partition job,
  then assigns offsets per partition; no driver collect).
* TURN_BITS=20 allows 1M turns per conversation and 2^43 conversations.
* a window-function row_number over the full table (the naive approach)
  would funnel everything through one partition — rejected in SURVEY.md §7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

TURN_BITS = 20
TURN_MASK = (1 << TURN_BITS) - 1

CONV_DIM_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("conv_slot", LongType(), False),
    ]
)


def build_conv_dim(transcripts: DataFrame) -> DataFrame:
    """Dense conv_id -> conv_slot dimension (deterministic: slot = rank of
    conv_id under lexicographic order)."""
    spark = transcripts.sparkSession
    # null conv_ids never join (with_doc_id is an inner join), and the
    # dimension's conv_id is non-nullable
    convs = transcripts.select("conv_id").dropna().distinct().sort("conv_id")
    rdd = convs.rdd.map(lambda r: r[0]).zipWithIndex()
    return spark.createDataFrame(rdd, schema=CONV_DIM_SCHEMA)


def with_doc_id(df: DataFrame, conv_dim: DataFrame) -> DataFrame:
    """Attach packed int64 doc_id.  The join is on conv_id; at scale both
    sides are bucketed/partitioned by conv_id so this is a co-located join
    (AQE picks broadcast when conv_dim is small)."""
    joined = df.join(conv_dim, "conv_id")
    return joined.withColumn(
        "doc_id",
        (F.col("conv_slot").cast("long") * F.lit(1 << TURN_BITS)
         + F.col("turn_idx").cast("long")),
    )


def doc_id_col(conv_slot, turn_idx):
    return conv_slot.cast("long") * F.lit(1 << TURN_BITS) + turn_idx.cast("long")


def unpack_conv_slot(doc_id_column):
    # bitwise, not float division — doc_id can exceed 2^53
    return F.shiftright(doc_id_column, TURN_BITS)


def unpack_turn_idx(doc_id_column):
    return doc_id_column.bitwiseAND(F.lit(TURN_MASK)).cast("int")
