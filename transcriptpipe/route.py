"""Route stage — fan rows out to per-doctype sinks.

The aushape analog is the pluggable output vtable (lib/output.c:26-99,
include/aushape/output_type.h) with its fd/syslog implementations; ours is a
pure function DataFrame → {sink_name: DataFrame}. Sinks:

* ``json_doc`` — every conversation's event document as canonical JSON
  (errored conversations included, with data voided and the error attached —
  P6 error demotion, conv_buf.c:627-648)
* ``xml_doc``  — the same envelope with the XML rendering
* ``error``    — one row per row-level error (PARSE_FAIL / INVALID_HEX /
  UNKNOWN_TOOL at the offending turn) plus one row per conversation-level
  validation error (REPEATED_RECORD / INVALID_EXECVE / INVALID_PATH)
* ``raw``      — input passthrough (--with-text analog, format.h:64-68)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import schemas

CONV_LEVEL_CODES = [
    schemas.ERR_REPEATED_RECORD,
    schemas.ERR_INVALID_EXECVE,
    schemas.ERR_INVALID_PATH,
]


def error_sink(docs: DataFrame) -> DataFrame:
    """Row-level errors + conversation-level validation errors.

    Both come off the assembled docs frame (row errors travel on the doc row
    as ``row_errs``), so the error sink costs one narrow pass over docs —
    the input is never re-scanned or re-parsed for routing."""
    row_errs = docs.select(
        "conv_id", F.explode("row_errs").alias("e")
    ).select("conv_id", "e.turn_idx", "e.error_code", "e.text")
    conv_errs = docs.filter(F.col("error").isin(CONV_LEVEL_CODES)).select(
        "conv_id",
        F.lit(None).cast("int").alias("turn_idx"),
        F.col("error").alias("error_code"),
        F.lit(None).cast("string").alias("text"),
    )
    return row_errs.unionByName(conv_errs)


def raw_sink(transcripts: DataFrame) -> DataFrame:
    return transcripts.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
