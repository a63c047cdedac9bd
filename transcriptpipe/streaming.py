"""Streaming mode — the batch chain with the state store in place of the
exchange, EOE-driven event completion.

The reference is a true streaming program: auparse buffers records until the
event is complete (EOE marker or timeout) and then fires the event-ready
callback (aushape lib/conv.c:72-173, SURVEY.md §2.9); single-shot and
streaming input share one assembly (lib/conv.c:303-323 → conv_buf). Here
the stream runs the batch layers with the exchange swapped for a stateful
operator keyed by a bucket of conv_id:

* readStream (file source here; Kafka/Iceberg-CDC on a cluster)
* ``enrich.enrich`` — the batch enrich layer, as stream-static broadcast
  joins (the same role/tool dictionaries, the same null-text rule)
* ``applyInPandasWithState`` keyed by ``pmod(hash(conv_id), BUCKETS)``, the
  exchange's stand-in: one call per bucket holds many conversations as one
  sorted run of the render pass's own input rows (``arrow_docs.SORTED_COLS``)
  and releases each conversation, capped and in turn order, plus
  ``complete``: with ``complete`` once its EOE marker has arrived
  (AUPARSE_CB_EVENT_READY analog), without once it is due (auparse's flush
  analog). It renders nothing.
* ``arrow_docs.render_docs_sorted`` — the batch render operator, mapped
  over the released rows as the batch maps it over the exchange; it carries
  ``complete`` to the doc row (``arrow_docs.DOC_SCHEMA`` plus ``complete``)
* writeStream: ``run_stream_once`` writes the batch doc sink's projection
  of those rows (``pipeline.doc_sink_columns``) plus ``complete``, so a
  streamed ``json_doc``/``xml_doc`` row is the batch row of the same input

Keying by bucket keeps the state step cheap: ``applyInPandasWithState``
pays its framing and state handling per key. Scale: state per bucket is at
most (max_turns_per_conv + 1) rows × its open conversations
(``arrow_docs.cap_rows``, the batch pass's cap rule: the rows under the cap
plus the first beyond-cap row, which only marks the doc trimmed), and the
state step runs at most ``BUCKETS`` tasks.

Timeout modes, applied per conversation inside its bucket's call; the
bucket's timer follows its earliest held deadline, so an idle conversation
flushes while a busy one in the same bucket stays held:

* drain (Trigger.AvailableNow; tests, backfills, the CLI): NoTimeout — with
  a timeout the AvailableNow query would keep scheduling timer batches and
  never terminate. Un-EOE'd conversations stay in the checkpointed state
  store and resume on the next run.
* processing time (``timeout_ms``, continuous): due when the last arrival
  plus ``timeout_ms`` is behind the batch time.
* event time (``watermark``, ST3 late/out-of-order policy): rows behind the
  watermark are dropped before they reach the state, so stragglers cannot
  re-open an emitted conversation; due when the newest under-cap turn plus
  ``EVENT_TIME_GAP_MS`` (60 s) is behind the watermark.

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
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import arrow_docs, schemas
from .enrich import enrich
from .pipeline import PipeConf, doc_sink_columns

# state keys: pmod(hash(conv_id), BUCKETS). A constant, so that a resumed
# checkpoint keeps its keys
BUCKETS = 64
EVENT_TIME_GAP_MS = 60_000  # event time: the flush gap after the newest turn

# state: a bucket's held rows, the render pass's input columns as parallel
# arrays (Arrow-friendly), ts as epoch microseconds, plus ``due_ms``, the
# row's conversation deadline
STATE_COLS = [*arrow_docs.SORTED_COLS, "due_ms"]
_STATE_TYPES = {"turn_idx": T.IntegerType(), "ts": T.LongType(),
                "due_ms": T.LongType()}
STREAM_STATE = T.StructType([
    T.StructField(c, T.ArrayType(_STATE_TYPES.get(c, T.StringType())), True)
    for c in STATE_COLS
])


def _make_coalesce_fn(timeout_ms: int | None, cap: int,
                      event_time: bool = False):
    """The stateful function, called once per bucket with its new
    ``SORTED_COLS`` rows (none on a timer call): the held and new rows are
    sorted by (conv_id, turn_idx) and capped by ``arrow_docs.cap_rows``, as
    in the batch render pass. Then one rule per conversation: released with
    ``complete`` once its EOE has been seen, without once it is due (its
    ``due_ms`` is behind the watermark or the batch time; module
    docstring), held otherwise. It renders nothing."""

    def fn(_key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        clock = (state.getCurrentWatermarkMs() if event_time else
                 state.getCurrentProcessingTimeMs() if timeout_ms else None)
        parts = []
        if state.exists:
            held = dict(zip(STATE_COLS, state.get))
            held["ts"] = np.array(held["ts"], dtype="datetime64[us]")
            parts.append(pd.DataFrame(held))
        for pdf in pdfs:
            if event_time:
                # ST3 late-data policy: the engine does NOT drop late rows
                # for applyInPandasWithState; dropped here, stragglers
                # cannot re-open an emitted conversation
                ts_ms = pdf["ts"].to_numpy(dtype="datetime64[us]").view("i8") // 1000
                pdf, ts_ms = pdf[ts_ms >= clock], ts_ms[ts_ms >= clock]
                under = pdf["turn_idx"].to_numpy() < cap
                due = np.where(under, ts_ms, 0) + EVENT_TIME_GAP_MS
            else:  # processing time: last arrival + timeout_ms (drain: unread)
                due = clock + timeout_ms if timeout_ms else 0
            if len(pdf):  # without the grouping column, "bucket"
                parts.append(pdf[arrow_docs.SORTED_COLS].assign(due_ms=due))
        if not parts:  # all-late batches must not open fresh state
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            ["conv_id", "turn_idx"], kind="stable", ignore_index=True)

        # per conversation, over every row (the EOE may be beyond the cap):
        # whether its EOE has been seen, and its deadline
        ids = pdf["conv_id"].to_numpy()
        first = np.concatenate(([True], ids[1:] != ids[:-1]))
        conv = np.cumsum(first) - 1  # row -> its conversation
        starts = np.flatnonzero(first)
        eoe = np.logical_or.reduceat(
            np.isin(pdf["role_name"].to_numpy(), schemas.DROP_ROLES), starts)
        due = np.maximum.reduceat(pdf["due_ms"].to_numpy(), starts)
        pdf = arrow_docs.cap_rows(pdf.assign(due_ms=due[conv]), cap)
        conv = conv[pdf.index]  # cap_rows keeps the positional index
        release = eoe | (due < clock if clock is not None else False)
        out = release[conv]
        if out.any():
            yield pdf[out].drop(columns="due_ms").assign(complete=eoe[conv[out]])
        held = pdf[~out]
        if not len(held):
            if state.exists:
                state.remove()
            return
        ts_us = held["ts"].to_numpy(dtype="datetime64[us]").view("i8")
        state.update(tuple((ts_us if c == "ts" else held[c].to_numpy()).tolist()
                           for c in STATE_COLS))
        nxt = int(held["due_ms"].min())
        if event_time:
            state.setTimeoutTimestamp(max(nxt, 1))
        elif timeout_ms:
            state.setTimeoutDuration(max(nxt - clock, 1))

    return fn


def stream_coalesce(spark: SparkSession, input_path: str,
                    timeout_ms: int | None = None, *,
                    watermark: str | None = None,
                    **conf_fields) -> DataFrame:
    """readStream(files) -> stateful EOE-driven coalesce -> the batch render
    operator: the streaming DataFrame of ``arrow_docs.DOC_SCHEMA`` rows plus
    ``complete``. The caller attaches writeStream and its checkpoint (see
    run_stream_once).

    ``conf_fields`` are ``pipeline.PipeConf`` fields by name, built into one
    ``PipeConf`` with the batch defaults (``max_doc_bytes`` 8192, both
    languages; the ``xml`` column is null unless "xml" is in ``langs``).
    Fields only the batch chain honours raise ValueError when set: an
    ``engine`` other than "arrow", ``doc_batch``, ``fold_level``,
    ``stage_dir`` and ``persist``.

    Modes (module docstring): drain with neither ``timeout_ms`` nor
    ``watermark``; processing time with ``timeout_ms``; event time with
    ``watermark`` (e.g. "10 minutes"; it takes precedence). Complete
    conversations are released with ``complete`` in every mode, due ones
    without. Each of the ``BUCKETS`` state keys holds at most
    ``max_turns_per_conv`` + 1 rows per open conversation. ``input_path``
    files are read one per micro-batch in mtime order (module docstring).
    """
    conf = PipeConf(**conf_fields)
    if conf.engine != "arrow":
        raise ValueError(f"the stream renders with the arrow engine, "
                         f"not {conf.engine!r}")
    defaults = PipeConf()
    for name in ("doc_batch", "fold_level", "stage_dir", "persist"):
        if getattr(conf, name) != getattr(defaults, name):
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
    fn = _make_coalesce_fn(timeout_ms, conf.max_turns_per_conv,
                           event_time=watermark is not None)
    # the state operator takes and releases the render pass's columns, as
    # the exchange does
    rows = enrich(raw, spark).select(*arrow_docs.SORTED_COLS)
    released = rows.withColumn(
        "bucket", F.pmod(F.hash("conv_id"), F.lit(BUCKETS))
    ).groupBy("bucket").applyInPandasWithState(
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
