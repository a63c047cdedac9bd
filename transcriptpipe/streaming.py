"""Streaming mode — the batch chain with the state store in place of the
exchange, EOE-driven event completion.

The reference is a true streaming program: auparse buffers records until the
event is complete (EOE marker or timeout) and then fires the event-ready
callback (aushape lib/conv.c:72-173, SURVEY.md §2.9); single-shot and
streaming input share one assembly (lib/conv.c:303-323 → conv_buf). Here
the stream runs the batch layers with the exchange swapped for a stateful
operator keyed by conv_id:

* readStream (file source here; Kafka/Iceberg-CDC on a cluster)
* ``enrich.enrich`` — the batch enrich layer, as stream-static broadcast
  joins (the same role/tool dictionaries, the same null-text rule)
* ``applyInPandasWithState`` keyed by conv_id, the exchange's stand-in: the
  state holds the render pass's own input rows (``arrow_docs.SORTED_COLS``)
  until the EOE marker arrives (AUPARSE_CB_EVENT_READY analog) or the state
  times out (auparse's flush analog); then it releases the conversation's
  rows, capped and in turn order, plus ``complete``. It renders nothing.
* ``arrow_docs.render_docs_sorted`` — the batch render operator, mapped
  over the released rows as the batch maps it over the exchange; it carries
  ``complete`` to the doc row (``arrow_docs.DOC_SCHEMA`` plus ``complete``)
* writeStream: ``run_stream_once`` writes the batch doc sink's projection
  of those rows (``pipeline.doc_sink_columns``) plus ``complete``, so a
  streamed ``json_doc``/``xml_doc`` row is the batch row of the same input

Timeout modes: continuous deployments use ProcessingTimeTimeout so idle
conversations flush; drain-style runs (Trigger.AvailableNow, used by tests
and backfills) use NoTimeout — with a processing-time timeout the
AvailableNow query would keep scheduling timer batches and never terminate.
Un-EOE'd conversations simply stay in the checkpointed state store and
resume on the next run.

Scale notes: state per key is bounded by max_turns_per_conv — it holds what
``arrow_docs.cap_rows`` keeps of the conversation in turn order (the rows
under the cap plus its first beyond-cap row, which only marks the doc
trimmed), the same rule the batch pass carries between batches; the state
store shuffles on conv_id exactly like the batch exchange.

Late/out-of-order data (ST3): with ``watermark`` set, rows older than the
watermark are dropped before they reach the state — an already-emitted
conversation can no longer be re-opened by stragglers — and un-EOE'd
conversations flush deterministically once the watermark passes their newest
under-cap turn + gap (event-time timeout). Without a watermark (drain mode),
incomplete conversations simply wait in state.

Input contract: files land in ts order with distinct modification times.
The file source reads them oldest mtime first, at millisecond resolution,
and files with equal mtimes in arbitrary order. Batch order therefore
matters in every mode: if a conversation's EOE file is read before an
earlier file of the same conversation, the doc is emitted without that
file's turns, and those stragglers open state that in drain mode never
completes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import arrow_docs, schemas
from .enrich import enrich
from .pipeline import PipeConf, doc_sink_columns

# state: the render pass's input columns minus the conv_id key, as parallel
# arrays (Arrow-friendly); ts is kept as epoch microseconds
STATE_COLS = arrow_docs.SORTED_COLS[1:]
_STATE_TYPES = {"turn_idx": T.IntegerType(), "ts": T.LongType()}
STREAM_STATE = T.StructType([
    T.StructField(c, T.ArrayType(_STATE_TYPES.get(c, T.StringType())), True)
    for c in STATE_COLS
])


def _make_coalesce_fn(timeout_ms: int | None, cap: int,
                      event_time_gap_ms: int | None = None):
    """The stateful function: hold a conversation's enriched rows (as
    ``SORTED_COLS`` frames) and on EOE or timeout release them, capped and
    in turn order, with ``complete`` (whether the EOE completed the
    conversation or a timeout flushed it)."""

    def combined(parts: list[pd.DataFrame]) -> pd.DataFrame:
        if len(parts) == 1:
            return parts[0]
        return pd.DataFrame({c: np.concatenate([p[c].to_numpy() for p in parts])
                             for c in arrow_docs.SORTED_COLS})

    def capped(parts: list[pd.DataFrame]) -> pd.DataFrame:
        """The conversation's rows so far, in turn order, through the batch
        pass's cap rule: what the state holds and what it releases."""
        pdf = combined(parts)
        ti = pdf["turn_idx"].to_numpy()
        if (ti[1:] < ti[:-1]).any():  # arrival order -> turn order
            pdf = pdf.sort_values("turn_idx", kind="stable")
        return arrow_docs.cap_rows(pdf, cap)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        parts = []
        if state.exists:
            held = dict(zip(STATE_COLS, state.get))
            held["ts"] = np.array(held["ts"], dtype="datetime64[us]")
            parts.append(pd.DataFrame({"conv_id": conv_id, **held}))
        if state.hasTimedOut:
            state.remove()
            yield capped(parts).assign(complete=False)
            return

        saw_eoe = False
        wm_ms = state.getCurrentWatermarkMs() if event_time_gap_ms is not None else 0
        for pdf in pdfs:
            if wm_ms > 0:
                # ST3 late-data policy: the engine does NOT pre-filter late
                # rows for applyInPandasWithState — the documented pattern is
                # dropping rows behind the watermark here, so stragglers for
                # an already-emitted conversation cannot re-open its state
                ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").view("i8")
                pdf = pdf[ts_us >= wm_ms * 1000]
            # EOE detection sees every row — a capped conversation must
            # still complete when its (possibly beyond-cap) EOE arrives
            if np.isin(pdf["role_name"].to_numpy(), schemas.DROP_ROLES).any():
                saw_eoe = True
            if len(pdf):
                parts.append(pdf)
        if not parts:  # all-late batches must not open fresh state
            return
        pdf = capped(parts)

        if saw_eoe:
            # event complete (the AUPARSE_CB_EVENT_READY moment): release +
            # clear; the render operator drops an empty event (P2)
            if state.exists:
                state.remove()
            yield pdf.assign(complete=True)
        else:
            ti = pdf["turn_idx"].to_numpy()
            ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").view("i8")
            state.update(tuple((ts_us if c == "ts" else pdf[c]).tolist()
                               for c in STATE_COLS))
            if event_time_gap_ms is not None:
                # event-time flush: when the watermark passes the newest
                # under-cap turn + gap, the conversation is assumed
                # complete-without-EOE (must stay ahead of the current
                # watermark or Spark rejects)
                newest_us = int(ts_us[ti < cap].max(initial=0))
                state.setTimeoutTimestamp(
                    max(newest_us // 1000 + event_time_gap_ms, wm_ms + 1)
                )
            elif timeout_ms:
                state.setTimeoutDuration(timeout_ms)  # flush-on-idle analog

    return fn


def stream_coalesce(spark: SparkSession, input_path: str,
                    timeout_ms: int | None = None, *,
                    watermark: str | None = None,
                    event_time_gap_ms: int = 60_000,
                    **conf_fields) -> DataFrame:
    """readStream(files) -> stateful EOE-driven coalesce -> the batch render
    operator: the streaming DataFrame of ``arrow_docs.DOC_SCHEMA`` rows plus
    ``complete``. The caller attaches writeStream and its checkpoint (see
    run_stream_once).

    ``conf_fields`` are ``pipeline.PipeConf`` fields by name, built into one
    ``PipeConf`` with the batch defaults (``max_doc_bytes`` 8192, both
    languages; the ``xml`` column is null unless "xml" is in ``langs``).
    Fields only the batch chain honours raise ValueError: an ``engine``
    other than "arrow", ``doc_batch``, ``fold_level`` and ``stage_dir``.

    Modes (ST3 late/out-of-order policy):

    * timeout_ms=None, watermark=None (drain / AvailableNow): incomplete
      conversations wait in the state store for the next run.
    * timeout_ms=N (continuous, processing time): idle conversations flush
      as incomplete after N ms.
    * watermark="10 minutes" (continuous, event time; takes precedence over
      timeout_ms): rows later than the watermark are DROPPED before they
      reach the state (the deterministic late-data policy — they no longer
      re-open state for already-emitted conversations), and un-EOE'd
      conversations flush once the watermark passes their newest under-cap
      turn + event_time_gap_ms.

    Per-key state is bounded by ``max_turns_per_conv`` through
    ``arrow_docs.cap_rows``, the batch render's cap rule (cap + 1 rows).
    ``input_path`` files are read one per micro-batch in mtime order
    (module docstring).
    """
    conf = PipeConf(**conf_fields)
    if conf.engine != "arrow":
        raise ValueError(f"the stream renders with the arrow engine, "
                         f"not {conf.engine!r}")
    for name in ("doc_batch", "fold_level", "stage_dir"):
        if getattr(conf, name) is not None:
            raise ValueError(f"{name} is batch-only; the stream cannot honour it")
    raw = (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )
    timeout_conf = GroupStateTimeout.NoTimeout
    if watermark is not None:
        raw = raw.withWatermark("ts", watermark)
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    elif timeout_ms:
        timeout_conf = GroupStateTimeout.ProcessingTimeTimeout
    fn = _make_coalesce_fn(
        timeout_ms, conf.max_turns_per_conv,
        event_time_gap_ms=event_time_gap_ms if watermark is not None else None)
    # the state operator takes and releases the render pass's columns, as
    # the exchange does
    rows = enrich(raw, spark).select(*arrow_docs.SORTED_COLS)
    released = rows.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=T.StructType([
            *rows.schema.fields, T.StructField("complete", T.BooleanType(), False)]),
        stateStructType=STREAM_STATE,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
    return arrow_docs.render_docs_sorted(released, conf)


def run_stream_once(spark: SparkSession, input_path: str, out_path: str,
                    checkpoint: str, watermark: str | None = None, *,
                    lang: str = "json", **conf_fields) -> None:
    """Drain all currently-available input (Trigger.AvailableNow) into a
    parquet sink — the batch-ish smoke path used by tests and the CLI's
    --stream mode. ``conf_fields`` are ``pipeline.PipeConf`` fields, as in
    ``stream_coalesce``.

    ``lang`` ("json" or "xml") selects the one doc language the sink
    carries. Its rows are the batch ``json_doc``/``xml_doc`` sink's row
    (``pipeline.doc_sink_columns``) plus ``complete``. One streaming query
    has one sink; to stream BOTH languages run two queries with separate
    checkpoints, or use batch."""
    df = stream_coalesce(spark, input_path, watermark=watermark,
                         langs=(lang,), **conf_fields)
    q = (
        df.select(*doc_sink_columns(lang), "complete")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
