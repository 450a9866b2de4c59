"""Mergeable NDV sketches — the profiler's distinct counts, and the scale
path for incremental distinct counts that merge.py's finished-number
profiles honestly can't provide.

Spark 3.5+ ships Apache DataSketches HLL natively:
``hll_sketch_agg`` (build), ``hll_union_agg`` (merge), and
``hll_sketch_estimate`` (read). Its aggregation buffer is ONE binary
sketch object, which keeps ``profile_table``'s fused multi-column agg
cheap to generate code for. Per-batch sketches persist as tiny binary
blobs and the corpus-level distinct count is a union of blobs, never a
rescan. This is exactly how a 10^12-row table keeps a running
url-uniqueness estimate as new crawl batches land.

``hll_sketch_agg`` accepts only BIGINT, STRING and BINARY input, so every
column goes through ``hll_image`` first: an injective map onto one of
those types that keeps ``count_distinct``'s notion of "same value".
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

_AS_LONG = (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.NullType)
_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def hll_image(col: Column, dt: T.DataType) -> Column:
    """``col`` of type ``dt`` mapped injectively onto a type
    ``hll_sketch_agg`` accepts; NULL stays NULL, so it is not counted.

    - integral / boolean → ``cast long``
    - date → ``unix_date``; timestamp → ``unix_micros``
    - string / binary → as is
    - float / double → −0.0 folded onto 0.0 (Spark's ``count_distinct``
      normalizes it, and every NaN, the same way), then ``cast string``
    - decimal, timestamp_ntz and other atomic types → ``cast string``
    - array / map / struct → ``to_json``
    """
    if isinstance(dt, _AS_LONG):
        return col.cast("long")
    if isinstance(dt, T.DateType):
        return F.unix_date(col)
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(col)
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return col
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return F.when(col == 0, F.lit(0.0).cast(dt)).otherwise(col).cast("string")
    if isinstance(dt, _COMPLEX):
        return F.to_json(col)
    return col.cast("string")


def ndv_sketches(df: DataFrame, columns: Sequence[str], lg_k: int = 12) -> DataFrame:
    """One row of binary HLL sketches, one per column. lg_k=12 ⇒ ~1.6%
    relative error at 4 KB per sketch."""
    return df.agg(
        *[
            F.hll_sketch_agg(hll_image(F.col(c), df.schema[c].dataType), F.lit(lg_k))
            .alias(f"{c}__hll")
            for c in columns
        ]
    )


def merge_ndv_sketches(batches: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Union per-batch sketch rows into corpus-level estimates:
    (col → estimated ndv). Input: a frame of sketch rows as produced by
    ndv_sketches (one per batch)."""
    merged = batches.agg(
        *[F.hll_union_agg(F.col(f"{c}__hll")).alias(f"{c}__hll") for c in columns]
    )
    return merged.select(
        *[
            F.hll_sketch_estimate(F.col(f"{c}__hll")).alias(f"{c}__ndv")
            for c in columns
        ]
    )
