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

from . import schemas

CONV_LEVEL_CODES = [
    schemas.ERR_REPEATED_RECORD,
    schemas.ERR_INVALID_EXECVE,
    schemas.ERR_INVALID_PATH,
]


def doc_errors() -> str:
    """A doc row's error-sink rows, as one SQL expression: its row errors
    (``row_errs``, which travel on the doc row), then its
    conversation-level validation error. ``size`` of it is the doc's
    error-row count, which metrics_frame sums inside its own SQL
    aggregates."""
    codes = ", ".join(f"'{c}'" for c in CONV_LEVEL_CODES)
    return ("concat(coalesce(row_errs, array()), "
            f"IF(error IN ({codes}), array(named_struct("
            "'turn_idx', CAST(NULL AS INT), 'error_code', error, "
            "'text', CAST(NULL AS STRING))), array()))")


def error_sink(docs: DataFrame) -> DataFrame:
    """Row-level errors + conversation-level validation errors, in one
    narrow pass over the assembled docs: each doc that carries an error
    explodes its ``doc_errors``, so the input is never re-scanned or
    re-parsed for routing."""
    errs = doc_errors()
    return (docs.filter(f"size({errs}) > 0")
            .selectExpr("conv_id", f"explode({errs}) AS e")
            .select("conv_id", "e.turn_idx", "e.error_code", "e.text"))


def raw_sink(transcripts: DataFrame) -> DataFrame:
    return transcripts.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
