"""The arrow render: one pass over sorted turns that assembles, trims and
renders every conversation — the default engine's render layer
(pipeline.render) and the stream drain's emit step (streaming.py).

The exchange (pipeline.exchange) delivers flat raw turns partitioned on
conv_id and sorted by (conv_id, turn_idx), so a conversation's rows are
consecutive. This pass groups them, applies the turn cap, and hands each
conversation to the fused kernel (fastkernel.render_conv), which tokenizes,
collects, validates and renders JSON + XML + trim in a single traversal.
Its output is byte-equal to the single-process oracle (oracle.py) — pinned
by tests/test_fastkernel.py, the golden corpus and the arrow-vs-sql engine
matrix.

This is exactly the aushape shape: one pass per event, assemble → trim →
render (aushape lib/conv_buf.c:355-709), vectorized over Arrow batches
instead of one callback per event.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# the kernel's input columns (pipeline.exchange selects exactly these)
SORTED_COLS = ["conv_id", "turn_idx", "role_name", "text", "tool", "tool_name", "ts"]

# doc_id = serial // EVENTS_PER_DOC (the reference's events-per-document
# grouping; CLI --events-per-doc sets the separate S6 doc_batch sinks)
EVENTS_PER_DOC = 100

DOC_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("serial", T.LongType(), True),
    T.StructField("time", T.StringType(), False),
    T.StructField("n_turns", T.IntegerType(), False),
    T.StructField("doc", T.StringType(), False),
    T.StructField("xml", T.StringType(), True),  # null when XML is deselected (--lang json)
    T.StructField("trimmed", T.BooleanType(), False),
    T.StructField("error", T.StringType(), True),
    T.StructField(
        "row_errs",
        T.ArrayType(T.StructType([
            T.StructField("turn_idx", T.IntegerType(), True),
            T.StructField("error_code", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ])),
        True,
    ),
])


def render_sorted_batches(batches: Iterable[pd.DataFrame],
                          max_doc_bytes: int | None = 8192,
                          with_text: bool = True, with_norm: bool = False,
                          max_turns_per_conv: int | None = None,
                          want_xml: bool = True) -> Iterator[pd.DataFrame]:
    """The render pass: ``SORTED_COLS`` batches, sorted by (conv_id,
    turn_idx) so a conversation's rows are consecutive, in; DOC_SCHEMA
    frames out, one row per conversation. Conversations spanning batch
    boundaries are carried between batches.

    Turn capping (max_event_size analog): with ``max_turns_per_conv`` the
    cap is enforced IN THIS PASS — beyond-cap rows are dropped and the doc
    marked trimmed locally, with NO pre-aggregation scan / shuffle /
    broadcast. render_docs_sorted maps it over the exchange; the stream
    drain (streaming.py) feeds it one finished conversation at a time."""
    from . import fastkernel

    cap = max_turns_per_conv
    out_cols = [f.name for f in DOC_SCHEMA.fields]
    render_conv = fastkernel.render_conv
    carry_key: str | None = None
    carry: list[tuple] | None = None  # [(turn_idx, role, text, tool, tool_name)]
    carry_min_us: int | None = None
    carry_frags: list | None = None
    carry_capped = False
    out: list[dict] = []

    def flush(key: str, rows: list[tuple], min_us: int, frags,
              capped: bool) -> None:
        rec = render_conv(key, rows, pd.Timestamp(min_us, unit="us"),
                          capped, max_doc_bytes, EVENTS_PER_DOC,
                          with_text, with_norm, xml_line_frags=frags,
                          want_xml=want_xml)
        if rec is not None:
            out.append(rec)

    for pdf in batches:
        # in-pass turn cap: drop beyond-cap rows vectorized, remember
        # which conversations lost rows (bounds per-task carry state)
        capped_ids: set = set()
        if cap is not None:
            over = pdf["turn_idx"] >= cap
            if bool(over.any()):
                capped_ids = set(pdf["conv_id"][over].tolist())
                pdf = pdf[~over]
            if carry_key is not None and carry_key in capped_ids:
                carry_capped = True
        ids = pdf["conv_id"].to_numpy()
        n = len(ids)
        if n == 0:
            continue  # batch held only over-cap rows (carry marked above)
        data = list(zip(
            pdf["turn_idx"].to_numpy().tolist(),
            pdf["role_name"].to_numpy().tolist(),
            pdf["text"].to_numpy().tolist(),
            pdf["tool"].to_numpy().tolist(),
            pdf["tool_name"].to_numpy().tolist(),
        ))
        frags_all = (fastkernel.xml_lines_vectorized(pdf["text"])
                     if want_xml else None)
        # vectorized group boundaries + per-group min(ts): ONE numpy pass
        # instead of materializing 10^5 pd.Timestamp objects per batch
        starts = np.flatnonzero(
            np.concatenate(([True], ids[1:] != ids[:-1]))
        )
        ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").view("i8")
        mins = np.minimum.reduceat(ts_us, starts)
        for g in range(len(starts)):
            i = int(starts[g])
            j = int(starts[g + 1]) if g + 1 < len(starts) else n
            key = ids[i]
            rows = data[i:j]
            row_frags = frags_all[i:j] if frags_all is not None else None
            min_us = int(mins[g])
            kc = key in capped_ids
            if carry_key is not None and key == carry_key:
                rows = carry + rows
                if row_frags is not None:
                    row_frags = carry_frags + row_frags
                min_us = min(min_us, carry_min_us)
                kc = kc or carry_capped
            elif carry_key is not None:
                flush(carry_key, carry, carry_min_us, carry_frags, carry_capped)
            if j == n:  # group may continue in the next batch
                carry_key, carry, carry_min_us, carry_frags, carry_capped = (
                    key, rows, min_us, row_frags, kc)
            else:
                flush(key, rows, min_us, row_frags, kc)
                carry_key, carry, carry_min_us, carry_frags, carry_capped = (
                    None, None, None, None, False)
        if len(out) >= 256:
            yield pd.DataFrame(out, columns=out_cols)
            out = []
    if carry_key is not None:
        flush(carry_key, carry, carry_min_us, carry_frags, carry_capped)
    if out:
        yield pd.DataFrame(out, columns=out_cols)


def render_docs_sorted(sorted_turns: DataFrame, max_doc_bytes: int | None = 8192,
                       with_text: bool = True, with_norm: bool = False,
                       max_turns_per_conv: int | None = None,
                       want_xml: bool = True) -> DataFrame:
    """Sorted-stream coalesce+render: ONE mapInPandas pass of
    ``render_sorted_batches`` over the exchange's output (``SORTED_COLS``,
    partitioned on conv_id, sorted by (conv_id, turn_idx)) — aushape's
    sequential event-stream model (lib/conv.c one callback per completed
    event), vectorized over Arrow batches.

    This is the 10^12-row shape: the exchange carries flat rows, the sort
    spills, and per-task state is exactly one in-flight conversation
    (bounded by the turn cap)."""
    return sorted_turns.mapInPandas(
        partial(render_sorted_batches, max_doc_bytes=max_doc_bytes,
                with_text=with_text, with_norm=with_norm,
                max_turns_per_conv=max_turns_per_conv, want_xml=want_xml),
        schema=DOC_SCHEMA)
