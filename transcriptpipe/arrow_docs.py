"""The arrow render: one pass over sorted turns that assembles, trims and
renders every conversation — the default engine's render layer, mapped over
the exchange (pipeline.render) or over the stream's state output
(streaming.py).

The exchange (pipeline.exchange) delivers flat raw turns partitioned on
conv_id and sorted by (conv_id, turn_idx), so a conversation's rows are
consecutive. This pass applies the turn cap (``cap_rows``, the one cap
rule, which the stream state uses too), groups the rows, and hands each
conversation to the fused kernel (fastkernel.render_conv), which tokenizes,
collects, validates and renders JSON + XML + trim in a single traversal.
Its output is byte-equal to the single-process oracle (oracle.py) — pinned
by tests/test_fastkernel.py, tests/test_render_batches.py (every batch
cut), the golden corpus and the arrow-vs-sql engine matrix.

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


def cap_rows(pdf: pd.DataFrame, cap: int | None) -> pd.DataFrame:
    """The turn cap (max_event_size analog), the one rule the batch pass
    and the stream state share. On rows sorted by (conv_id, turn_idx), keep
    every row under the cap plus each conversation's first row at or beyond
    it. That row only marks the doc trimmed: the render pass gives it no
    turn, no text and no say in ``time``."""
    if cap is None:
        return pdf
    over = pdf["turn_idx"].to_numpy() >= cap
    if not over.any():
        return pdf
    ids = pdf["conv_id"].to_numpy()
    first = over.copy()
    first[1:] &= ~(over[:-1] & (ids[1:] == ids[:-1]))
    return pdf[~over | first]


def render_sorted_batches(batches: Iterable[pd.DataFrame],
                          max_doc_bytes: int | None = 8192,
                          with_text: bool = True, with_norm: bool = False,
                          max_turns_per_conv: int | None = None,
                          want_xml: bool = True) -> Iterator[pd.DataFrame]:
    """The render pass: ``SORTED_COLS`` batches, sorted by (conv_id,
    turn_idx) so a conversation's rows are consecutive, in; DOC_SCHEMA
    frames out, one row per conversation. Input columns beyond
    ``SORTED_COLS`` follow the doc columns, with the conversation's first
    value. The last conversation of a batch may go on in the next one, so
    its rows (at most cap + 1 after ``cap_rows``) are carried over and put
    in front of the next batch.

    The turn cap is enforced IN THIS PASS by ``cap_rows`` — no
    pre-aggregation scan, shuffle or broadcast. render_docs_sorted maps it
    over the exchange (batch) and over the state output (stream)."""
    from . import fastkernel

    cap = max_turns_per_conv
    doc_cols = [f.name for f in DOC_SCHEMA.fields]
    extra: list[str] = []  # input columns carried to the doc row
    render_conv = fastkernel.render_conv
    out: list[dict] = []

    def render(pdf: pd.DataFrame) -> None:
        """Render every conversation in ``pdf``; each one is complete."""
        ids = pdf["conv_id"].to_numpy()
        n = len(ids)
        starts = np.flatnonzero(np.concatenate(([True], ids[1:] != ids[:-1])))
        ends = np.append(starts[1:], n)
        # cap_rows leaves at most one beyond-cap row, last in its group; it
        # marks the doc trimmed and is no turn
        ti = pdf["turn_idx"].to_numpy()
        over = ti >= cap if cap is not None else np.zeros(n, bool)
        capped = over[ends - 1]
        ends = ends - capped
        # per-group min(ts) over the rendered rows: ONE numpy pass instead
        # of 10^5 pd.Timestamp objects per batch
        ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").view("i8")
        mins = np.minimum.reduceat(
            np.where(over, np.iinfo(np.int64).max, ts_us), starts)
        data = list(zip(
            ti.tolist(),
            pdf["role_name"].to_numpy().tolist(),
            pdf["text"].to_numpy().tolist(),
            pdf["tool"].to_numpy().tolist(),
            pdf["tool_name"].to_numpy().tolist(),
        ))
        carried = {c: pdf[c].to_numpy() for c in extra}
        for i, j, kc, min_us in zip(starts.tolist(), ends.tolist(),
                                    capped.tolist(), mins.tolist()):
            if i == j:
                continue  # only beyond-cap rows: no doc
            rec = render_conv(ids[i], data[i:j], pd.Timestamp(min_us, unit="us"),
                              kc, max_doc_bytes, EVENTS_PER_DOC,
                              with_text, with_norm, want_xml=want_xml)
            if rec is not None:
                for c, v in carried.items():
                    rec[c] = v[i]
                out.append(rec)

    carry: pd.DataFrame | None = None  # the open conversation's rows
    for pdf in batches:
        extra = [c for c in pdf.columns if c not in SORTED_COLS]
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        pdf = cap_rows(pdf, cap)
        ids = pdf["conv_id"].to_numpy()
        if len(ids) == 0:
            continue
        done = np.flatnonzero(ids != ids[-1])
        cut = int(done[-1]) + 1 if len(done) else 0
        carry = pdf.iloc[cut:]
        if cut:
            render(pdf.iloc[:cut])
        if len(out) >= 256:
            yield pd.DataFrame(out, columns=doc_cols + extra)
            out = []
    if carry is not None:
        render(carry)
    if out:
        yield pd.DataFrame(out, columns=doc_cols + extra)


def render_docs_sorted(rows: DataFrame, conf) -> DataFrame:
    """The render operator: ONE mapInPandas pass of ``render_sorted_batches``
    over ``SORTED_COLS`` rows partitioned on conv_id and sorted by
    (conv_id, turn_idx) — the exchange's output in batch, the state's
    released conversations in the stream. Further columns of ``rows`` (the
    stream's ``complete``) follow the ``DOC_SCHEMA`` fields. ``conf`` is a
    ``pipeline.PipeConf``, read by attribute (this module does not import
    pipeline): the one place its render options become arguments.

    This is the 10^12-row shape: the exchange carries flat rows, the sort
    spills, and per-task state is exactly one in-flight conversation
    (bounded by the turn cap)."""
    extra = [f for f in rows.schema.fields if f.name not in SORTED_COLS]
    return rows.mapInPandas(
        partial(render_sorted_batches, max_doc_bytes=conf.max_doc_bytes,
                with_text=conf.with_text, with_norm=conf.with_norm,
                max_turns_per_conv=conf.max_turns_per_conv,
                want_xml="xml" in conf.langs),
        schema=T.StructType([*DOC_SCHEMA.fields, *extra]))
