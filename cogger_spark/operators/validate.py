"""Validation predicates over the image table (P4, cog.go:194-215, 227-247,
loader.go:42-44): declarative checks producing a (valid, rejects) split via
filter/anti-join, so bad rows are quarantined instead of failing tasks.

Checks (metadata-only where possible; raw rows are sized by `bytes`
length, and only deflate rows that pass every other check are read):
* image id, dims and fmt present;
* dims positive and within the supported range;
* fmt is a known codec;
* raw payload length is a whole number of (w*h) planes with a plane count
  the engine can interpret (1,2,3,4,5 — see tiling.infer_planes);
* a deflate payload inflates, to such a length (tiling.deflate_planes'
  length pass, in one Arrow UDF that is sent no other row's bytes);
* caption present (the per-row invariant requires round-tripping it).
"""

from __future__ import annotations

import zlib

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .tiling import deflate_planes

KNOWN_FMTS = ("raw", "deflate", "png", "jpeg")
MAX_DIM = 1 << 20


def with_validity(images: DataFrame) -> DataFrame:
    nbytes = F.length("bytes").cast("long")
    px = F.col("w").cast("long") * F.col("h")
    raw_planes_ok = (
        (nbytes % px == 0)
        & F.floor(nbytes / px).isin(1, 2, 3, 4, 5))
    # NULL keys first: a NULL id, dim or fmt makes every later predicate
    # three-valued-NULL, so the row would fall through into the valid branch
    reason = (
        F.when(F.col("image_id").isNull(), "missing image id")
        .when(F.col("w").isNull() | F.col("h").isNull(), "missing dims")
        .when(F.col("fmt").isNull(), "unknown fmt")
        .when((F.col("w") <= 0) | (F.col("h") <= 0), "nonpositive dims")
        .when((F.col("w") > MAX_DIM) | (F.col("h") > MAX_DIM), "dims out of range")
        .when(~F.col("fmt").isin(*KNOWN_FMTS), "unknown fmt")
        # explicit null check: a NULL payload would make the raw-size
        # predicate three-valued-NULL and fall through every `when` into
        # the valid branch (r5 self-review)
        .when(F.col("bytes").isNull() | (F.length("bytes") == 0),
              "missing payload")
        .when(F.col("caption").isNull() | (F.length("caption") == 0), "missing caption")
        .when((F.col("fmt") == "raw") & ~raw_planes_ok, "bad raw payload size")
        .otherwise(F.lit(None)))

    @F.pandas_udf("boolean")
    def inflates(data: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        def ok(blob, w, h):
            if blob is None:
                return None
            try:
                deflate_planes(blob, int(w), int(h))
            except (ValueError, zlib.error):
                return False
            return True
        return pd.Series([ok(*t) for t in zip(data, w, h)], dtype=object)

    v = images.withColumn("reject_reason", reason)
    deflate = (F.col("fmt") == "deflate") & F.col("reject_reason").isNull()
    bad = deflate & ~inflates(F.when(deflate, F.col("bytes")), "w", "h")
    return v.withColumn("reject_reason",
                        F.when(bad, "bad deflate payload")
                        .otherwise(F.col("reject_reason")))


def validate_images(images: DataFrame):
    """→ (valid_df, rejects_df). Valid rows drop the audit column."""
    v = with_validity(images)
    return (v.filter(F.col("reject_reason").isNull()).drop("reject_reason"),
            v.filter(F.col("reject_reason").isNotNull())
             .select("image_id", "fmt", "w", "h", "reject_reason"))
