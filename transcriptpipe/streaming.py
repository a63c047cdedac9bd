"""Streaming mode — Structured Streaming ingestion with EOE-driven event
completion.

The reference is a true streaming program: auparse buffers records until the
event is complete (EOE marker or timeout) and then fires the event-ready
callback (/root/reference/lib/conv.c:72-173, SURVEY.md §2.9). The Spark
equivalent is a stateful streaming operator keyed by conv_id:

* readStream (file source here; Kafka/Iceberg-CDC on a cluster)
* ``applyInPandasWithState`` keyed by conv_id: turns accumulate in state
  until the EOE marker arrives (AUPARSE_CB_EVENT_READY analog) or — in
  continuous mode — the state times out (auparse's flush analog); then the
  conversation is assembled with the SAME single-conversation semantics as
  the batch oracle (oracle.coalesce_conv) and emitted downstream.

Timeout modes: continuous deployments use ProcessingTimeTimeout so idle
conversations flush; drain-style runs (Trigger.AvailableNow, used by tests
and backfills) use NoTimeout — with a processing-time timeout the
AvailableNow query would keep scheduling timer batches and never terminate.
Un-EOE'd conversations simply stay in the checkpointed state store and
resume on the next run.

Scale notes: state per key is one conversation's turns, bounded by
max_turns_per_conv (rows past the cap are dropped in the stateful function
and the doc marked trimmed — enforced, not just assumed); the state store
shuffles on conv_id exactly like the batch coalesce.

Late/out-of-order data (ST3): with ``watermark`` set, rows older than the
watermark are dropped by the engine before the operator — an already-emitted
conversation can no longer be re-opened by stragglers — and un-EOE'd
conversations flush deterministically once the watermark passes their newest
turn + gap (event-time timeout). Without a watermark (drain mode), batch
order doesn't matter and incomplete conversations simply wait in state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import oracle, schemas

STREAM_DOC = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("serial", T.LongType(), True),
    T.StructField("time", T.StringType(), True),
    T.StructField("n_turns", T.IntegerType(), False),
    T.StructField("doc", T.StringType(), False),
    T.StructField("xml", T.StringType(), True),         # null unless "xml" in langs
    T.StructField("error", T.StringType(), True),
    T.StructField("complete", T.BooleanType(), False),  # EOE seen vs timeout flush
    T.StructField("trimmed", T.BooleanType(), False),   # state cap hit
])

# state: accumulated raw turns, kept as parallel lists (Arrow-friendly);
# `capped` is a 1-element flag list (rows beyond max_turns_per_conv dropped)
STREAM_STATE = T.StructType([
    T.StructField("turn_idx", T.ArrayType(T.IntegerType()), True),
    T.StructField("role", T.ArrayType(T.StringType()), True),
    T.StructField("text", T.ArrayType(T.StringType()), True),
    T.StructField("tool", T.ArrayType(T.StringType()), True),
    T.StructField("ts_us", T.ArrayType(T.LongType()), True),
    T.StructField("capped", T.ArrayType(T.BooleanType()), True),
])


def _assemble(conv_id: str, rows: list[tuple], capped: bool,
              with_text: bool = True, with_norm: bool = False,
              max_doc_bytes: int | None = None,
              want_xml: bool = False) -> dict | None:
    """One conversation -> doc row, via the SAME fused kernel as the batch
    Arrow engine (fastkernel.render_conv) — so every PipeConf rendering
    option (with_text / with_norm / max_doc_bytes trim cascade) behaves
    identically in stream and batch mode. Returns None for empty events
    (P2, conv_buf.c:570-574).

    ``rows``: (turn_idx, role, text, tool, ts_us) with RAW role/tool codes
    — the dictionary enrichment is applied here (broadcast-equivalent: the
    dicts are in-process constants on every worker)."""
    from datetime import datetime, timedelta

    from . import fastkernel

    rows = sorted(rows, key=lambda r: r[0])
    role_map, tool_map = oracle.ROLE_MAP, oracle.TOOL_MAP
    tup = [
        (r[0], role_map.get(r[1], r[1]), r[2], r[3],
         tool_map.get(r[3]) if r[3] else None)
        for r in rows
    ]
    min_ts = datetime(1970, 1, 1) + timedelta(microseconds=min(r[4] for r in rows))
    rec = fastkernel.render_conv(conv_id, tup, min_ts, capped,
                                 max_doc_bytes, 100, with_text, with_norm,
                                 want_xml=want_xml)
    if rec is None:
        return None
    return {
        "conv_id": conv_id,
        "serial": rec["serial"],
        "time": rec["time"],
        "n_turns": rec["n_turns"],
        "doc": rec["doc"],
        "xml": rec["xml"],  # None unless want_xml (STREAM_DOC column order)
        "error": rec["error"],
        "trimmed": rec["trimmed"],
    }


def _make_coalesce_fn(timeout_ms: int | None, max_turns_per_conv: int = 2048,
                      event_time_gap_ms: int | None = None,
                      with_text: bool = True, with_norm: bool = False,
                      max_doc_bytes: int | None = None,
                      want_xml: bool = False):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key

        def emit(ti, ro, te, to, ts, complete, capped):
            rows = list(zip(ti, ro, te, to, ts))
            if not rows:
                return
            out = _assemble(conv_id, rows, capped,
                            with_text=with_text, with_norm=with_norm,
                            max_doc_bytes=max_doc_bytes, want_xml=want_xml)
            if out is None:  # P2 empty-event drop
                return
            trimmed = out.pop("trimmed")  # keep STREAM_DOC column order
            out["complete"] = complete
            out["trimmed"] = trimmed
            yield pd.DataFrame([out])

        if state.hasTimedOut:
            (ti, ro, te, to, ts, cap) = state.get
            state.remove()
            yield from emit(ti, ro, te, to, ts, False, bool(cap and cap[0]))
            return

        ti, ro, te, to, ts, cap = (
            ([], [], [], [], [], [False])
            if not state.exists
            else [list(x) for x in state.get]
        )
        capped = bool(cap and cap[0])
        saw_eoe = False
        wm_ms = state.getCurrentWatermarkMs() if event_time_gap_ms is not None else 0
        for pdf in pdfs:
            if wm_ms > 0:
                # ST3 late-data policy: the engine does NOT pre-filter late
                # rows for applyInPandasWithState — the documented pattern is
                # dropping rows behind the watermark here, so stragglers for
                # an already-emitted conversation cannot re-open its state
                ts_ms = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000
                pdf = pdf[ts_ms >= wm_ms]
                if len(pdf) == 0:
                    continue
            # vectorized accumulation (no per-row iterrows). EOE detection
            # runs BEFORE the cap filter — a capped conversation must still
            # complete when its (possibly beyond-cap) EOE marker arrives
            if bool(pdf["role"].isin(schemas.DROP_ROLES).any()):
                saw_eoe = True
            keep = pdf["turn_idx"] < max_turns_per_conv
            if not bool(keep.all()):
                # state cap (max_event_size analog): rows beyond the cap are
                # dropped and the eventual doc is marked trimmed, matching
                # the batch path's cap_turns
                capped = True
                pdf = pdf[keep]
            ti.extend(int(x) for x in pdf["turn_idx"].tolist())
            ro.extend(pdf["role"].tolist())
            te.extend(pdf["text"].tolist())
            to.extend(None if pd.isna(x) else x for x in pdf["tool"].tolist())
            ts.extend(
                int(x) // 1000
                for x in pdf["ts"].astype("datetime64[ns]").astype("int64").tolist()
            )

        if saw_eoe:
            # event complete (the AUPARSE_CB_EVENT_READY moment): emit + clear
            if state.exists:
                state.remove()
            yield from emit(ti, ro, te, to, ts, True, capped)
        elif ti or state.exists:  # all-late batches must not open fresh state
            state.update((ti, ro, te, to, ts, [capped]))
            if event_time_gap_ms is not None:
                # event-time flush: when the watermark passes the newest turn
                # + gap, the conversation is assumed complete-without-EOE
                # (must stay ahead of the current watermark or Spark rejects)
                state.setTimeoutTimestamp(
                    max(max(ts) // 1000 + event_time_gap_ms, wm_ms + 1)
                )
            elif timeout_ms:
                state.setTimeoutDuration(timeout_ms)  # flush-on-idle analog

    return fn


def stream_coalesce(spark: SparkSession, input_path: str,
                    checkpoint: str, timeout_ms: int | None = None,
                    max_turns_per_conv: int = 2048,
                    watermark: str | None = None,
                    event_time_gap_ms: int = 60_000,
                    with_text: bool = True, with_norm: bool = False,
                    max_doc_bytes: int | None = None,
                    langs: tuple = ("json",)) -> DataFrame:
    """readStream(files) -> stateful EOE-driven coalesce. Returns the
    streaming DataFrame; caller attaches writeStream (see run_stream_once).

    Modes (ST3 late/out-of-order policy):

    * timeout_ms=None, watermark=None (drain / AvailableNow): incomplete
      conversations wait in the state store for the next run.
    * timeout_ms=N (continuous, processing time): idle conversations flush
      as incomplete after N ms.
    * watermark="10 minutes" (continuous, event time): rows later than the
      watermark are DROPPED by the engine before reaching the operator (the
      deterministic late-data policy — they no longer re-open state for
      already-emitted conversations), and un-EOE'd conversations flush once
      the watermark passes their newest turn + event_time_gap_ms.

    Per-key state is bounded by ``max_turns_per_conv`` (rows past the cap
    are dropped and the doc marked trimmed, like the batch cap_turns).
    """
    raw = (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )
    # boundary normalization, same as enrich.enrich: null text is the
    # empty line (the Python oracle's row["text"] or "" coercion)
    raw = raw.withColumn("text", F.coalesce("text", F.lit("")))
    render_opts = dict(with_text=with_text, with_norm=with_norm,
                       max_doc_bytes=max_doc_bytes,
                       want_xml="xml" in langs)
    if watermark is not None:
        raw = raw.withWatermark("ts", watermark)
        timeout_conf = GroupStateTimeout.EventTimeTimeout
        fn = _make_coalesce_fn(None, max_turns_per_conv,
                               event_time_gap_ms=event_time_gap_ms,
                               **render_opts)
    else:
        timeout_conf = (
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms
            else GroupStateTimeout.NoTimeout
        )
        fn = _make_coalesce_fn(timeout_ms, max_turns_per_conv, **render_opts)
    return raw.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=STREAM_DOC,
        stateStructType=STREAM_STATE,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def run_stream_once(spark: SparkSession, input_path: str, out_path: str,
                    checkpoint: str, watermark: str | None = None,
                    max_turns_per_conv: int = 2048,
                    with_text: bool = True, with_norm: bool = False,
                    max_doc_bytes: int | None = None,
                    lang: str = "json") -> None:
    """Drain all currently-available input (Trigger.AvailableNow) into a
    parquet sink — the batch-ish smoke path used by tests and the CLI's
    --stream mode (all rendering options thread through).

    ``lang`` selects which doc language the single streaming sink carries
    ("json" or "xml" — round 4: XML streams through the same fused kernel;
    the xml rendering replaces the doc column so the sink schema stays the
    per-language one). One streaming query has one sink; to stream BOTH
    languages run two queries with separate checkpoints, or use batch."""
    df = stream_coalesce(spark, input_path, checkpoint,
                         max_turns_per_conv=max_turns_per_conv,
                         watermark=watermark, with_text=with_text,
                         with_norm=with_norm, max_doc_bytes=max_doc_bytes,
                         langs=(lang,) if lang != "xml" else ("json", "xml"))
    if lang == "xml":
        from pyspark.sql import functions as F

        df = df.select("conv_id", "serial", "time", "n_turns",
                       F.col("xml").alias("doc"), "error", "complete",
                       "trimmed")
    else:
        df = df.drop("xml")
    q = (
        df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
