"""Declared StructTypes for the tables the pipeline reads, the error
taxonomy and the collector registry.

The reference declares its output schema externally (JSON Schema
lib/aushape.schema.json, XSD lib/aushape.xsd, ES mapping
lib/aushape.mapping.json — SURVEY.md §1.3). The output schemas are the ones
the writers produce: arrow_docs.DOC_SCHEMA for the rendered frame, which
the render operator emits in batch and, plus ``complete``, in the stream;
tests/test_resume.py::test_committed_sink_schemas pins what a committed run
writes.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- input ----
# Exactly the shape mandated by BASELINE.json `input_hint`.
# CONTRACT: (conv_id, turn_idx) is the primary key — turn_idx is the
# within-conversation ordering and must be unique per conv_id (the analog of
# aushape's in-order record stream per event serial). StructType can't
# declare a key, so the pipeline pins explicit ROWS window frames (a
# duplicate degrades to a well-defined prefix sum, not tied RANGE buckets)
# and pipeline.check_unique_turns gives callers a cheap validation frame.
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# ------------------------------------------------------- enrichment dims ----
# aushape's syscall/uid/field dictionaries live inside auparse
# (ref lib/field.c:112-114); ours are explicit broadcast tables.
ROLE_DICT = T.StructType(
    [
        T.StructField("role_code", T.StringType(), False),
        T.StructField("role_name", T.StringType(), False),
    ]
)

TOOL_DICT = T.StructType(
    [
        T.StructField("tool_code", T.StringType(), False),
        T.StructField("tool_name", T.StringType(), False),
        T.StructField("tool_kind", T.StringType(), False),
    ]
)

# Error taxonomy — mirrors the reference's rc codes
# (/root/reference/include/aushape/rc.h:24-48).
ERR_INVALID_EXECVE = "INVALID_EXECVE"   # argc mismatch / missing or broken arg
ERR_INVALID_PATH = "INVALID_PATH"       # item= slot sequence has holes/dups
ERR_REPEATED_RECORD = "REPEATED_RECORD" # duplicate non-repeatable role (system)
ERR_INVALID_HEX = "INVALID_HEX"         # hex= payload does not decode
ERR_UNKNOWN_TOOL = "UNKNOWN_TOOL"       # tool code absent from tool_dict
ERR_PARSE_FAIL = "PARSE_FAIL"           # text tokenizes to nothing
ERROR_CODES = (ERR_INVALID_EXECVE, ERR_INVALID_PATH, ERR_REPEATED_RECORD,
               ERR_INVALID_HEX, ERR_UNKNOWN_TOOL, ERR_PARSE_FAIL)

# ------------------------------------------------------ collector registry ----
# The dispatch map (ref lib/conv_buf.c:60-96): role -> collector kind. This is
# the U1 plugin surface — adding a record type is a registry entry, not an
# render-engine edit; fastkernel, relational.py and the oracle all read it.
# Roles NOT in the registry fall through to the catch-all uniq collector
# (ref lib/conv_buf.c:86-90 wires disp_coll's default to uniq): they appear in
# data{} under their lowercased name, and a repeat raises REPEATED_RECORD
# (ref lib/disp_coll.c:191-228 -> uniq_coll.c).
COLL_UNIQ = "uniq"    # at most one instance (lib/uniq_coll.c)
COLL_REP = "rep"      # repeats collect into an array (lib/rep_coll.c)
COLL_SLOT = "slot"    # item=N ordered slots (lib/path_coll.c)
COLL_DROP = "drop"    # contributes nothing to data (lib/drop_coll.c)

COLLECTORS: dict[str, str] = {
    "system": COLL_UNIQ,
    "user": COLL_REP,
    "assistant": COLL_REP,
    "tool_call": COLL_REP,
    "tool_result": COLL_SLOT,
    "EOE": COLL_DROP,
}
CATCH_ALL = COLL_UNIQ  # collector for unregistered roles

# convenience views used across the engines
UNIQ_ROLES = [r for r, c in COLLECTORS.items() if c == COLL_UNIQ]
REP_ROLES = [r for r, c in COLLECTORS.items() if c == COLL_REP]
SLOT_ROLE = "tool_result"
DROP_ROLES = [r for r, c in COLLECTORS.items() if c == COLL_DROP]
