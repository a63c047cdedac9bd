"""Document batching (S6) — group rendered events into multi-event output
documents with prologue/epilogue wrapping.

The reference's output unit is the *document*: a wrapper around N events
(/root/reference/lib/conv.c:85-172 drives the prologue / event / epilogue
cycle; /root/reference/lib/conv_buf.c:711-757 renders "[" ... "]" for JSON
and the <?xml?><log> ... </log> envelope for XML). `events_per_doc`
semantics mirror /root/reference/include/aushape/format.h:52-59:

* ``0``       — "bare": no document wrapping, no separators
* ``1``       — each event wrapped in its own document
* ``N > 1``   — documents of (up to) N events
* ``-B``      — byte budget: a document closes once the accumulated rendered
                event text reaches B bytes (the crossing event stays in the
                closing document — events are never split)
* ``"all"``   — every event in ONE document

Spark-first mapping (SURVEY.md §7.3.4 — retry-stable assignment, no global
sequential scan):

* Count mode groups by ``doc_id = floor(serial / N)``: deterministic under
  retries and requires no global window (a row_number over an unpartitioned
  window serializes on one task at 10^12 rows). A document may hold fewer
  than N events when serials are sparse — deterministic, documented.
* Byte mode is aushape's greedy accumulate-and-cut, which is inherently
  sequential — so it runs greedily WITHIN coarse serial ranges
  (``range_id = serial // byte_range_span``); documents never span ranges,
  which keeps assignment retry-stable and the packing embarrassingly
  parallel: one ``groupBy(range).applyInPandas`` hands each range (at most
  ``byte_range_span`` events) to a function that sorts it by serial and
  packs it. The oracle equivalence test (tests/test_docbatch.py) pins the
  per-range packing to a pure-Python reimplementation of conv.c's counter
  semantics.
* "all" mode is a single output document by definition — it necessarily
  reduces to one task; only sensible for small extracts (same as piping
  aushape's single-doc mode to one file).

Assembly in count/one/all modes is pure Catalyst (collect_list → array_sort
→ array_join → concat): no Python in the hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

XML_PROLOGUE = '<?xml version="1.0" encoding="UTF-8"?><log>'
PROLOGUE = {"json": "[", "xml": XML_PROLOGUE}
EPILOGUE = {"json": "]", "xml": "</log>"}
SEP = {"json": ",", "xml": ""}

BATCH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("n_events", T.IntegerType(), False),
    T.StructField("first_serial", T.LongType(), True),
    T.StructField("last_serial", T.LongType(), True),
    T.StructField("event_bytes", T.LongType(), False),
    T.StructField("doc", T.StringType(), False),
])

# byte-mode doc_id = range_id * RANGE_STRIDE + seq-within-range; a range of
# byte_range_span events yields at most byte_range_span documents, so the
# stride never collides for spans up to 2^20
RANGE_STRIDE = 1 << 20


def _wrap(body: Column, fmt: str) -> Column:
    return F.concat(F.lit(PROLOGUE[fmt]), body, F.lit(EPILOGUE[fmt]))


def batch_documents(events: DataFrame, events_per_doc: int | str = 100,
                    fmt: str = "json", byte_range_span: int = 4096,
                    ) -> DataFrame:
    """Rendered-event frame (needs ``serial`` + ``doc`` columns) → document
    frame (BATCH_SCHEMA). ``events_per_doc``: int per format.h:52-59, or
    "all"."""
    if fmt not in PROLOGUE:
        raise ValueError(f"fmt must be one of {sorted(PROLOGUE)}")
    ev = events.select("serial", "doc")

    if events_per_doc in (0, 1):  # one event per document — narrow, no shuffle
        # bare (0): no wrapping, no separators
        doc = _wrap(F.col("doc"), fmt) if events_per_doc else F.col("doc")
        return ev.select(
            F.col("serial").alias("doc_id"),
            F.lit(1).alias("n_events"),
            F.col("serial").alias("first_serial"),
            F.col("serial").alias("last_serial"),
            F.octet_length("doc").cast("long").alias("event_bytes"),
            doc.alias("doc"),
        )

    if isinstance(events_per_doc, int) and events_per_doc < 0:
        return _batch_by_bytes(ev, -events_per_doc, fmt, byte_range_span)

    if events_per_doc == "all":
        group = F.lit(0).cast("long")
    else:
        group = F.floor(F.col("serial") / F.lit(events_per_doc)).cast("long")

    agg = ev.groupBy(group.alias("doc_id")).agg(
        F.array_sort(F.collect_list(F.struct("serial", "doc"))).alias("evs"),
    )
    body = F.array_join(F.transform("evs", lambda e: e["doc"]), SEP[fmt])
    return agg.select(
        "doc_id",
        F.size("evs").alias("n_events"),
        F.element_at("evs", 1)["serial"].alias("first_serial"),
        F.element_at("evs", -1)["serial"].alias("last_serial"),
        (
            F.aggregate(
                "evs", F.lit(0).cast("long"),
                lambda acc, e: acc + F.octet_length(e["doc"]),
            )
            + F.lit(len(SEP[fmt])) * (F.size("evs") - 1)
        ).alias("event_bytes"),
        _wrap(body, fmt).alias("doc"),
    )


def pack_greedy(docs: list[str], budget: int, sep_len: int) -> list[list[int]]:
    """conv.c's byte counter (lib/conv.c:122-127,151-155): add the event,
    counter += rendered delta (event + separator when not first), close the
    document once counter >= budget. Returns index groups. Pure function —
    shared by the Spark path and the tests' oracle."""
    groups: list[list[int]] = []
    cur: list[int] = []
    acc = 0
    for i, d in enumerate(docs):
        delta = len(d.encode("utf-8")) + (sep_len if cur else 0)
        cur.append(i)
        acc += delta
        if acc >= budget:
            groups.append(cur)
            cur, acc = [], 0
    if cur:
        groups.append(cur)
    return groups


def _batch_by_bytes(ev: DataFrame, budget: int, fmt: str, span: int) -> DataFrame:
    if span > RANGE_STRIDE:
        raise ValueError(f"byte_range_span must be <= {RANGE_STRIDE}")
    sep, pro, epi = SEP[fmt], PROLOGUE[fmt], EPILOGUE[fmt]
    # null serials (conv_id without trailing digits — DOC_SCHEMA declares
    # serial nullable) route to the dedicated sentinel range -1 instead of a
    # null range, which would surface as NaN in the pandas batch and break
    # both the group scan (NaN != NaN) and int(range_id) (ADVICE r2)
    with_range = ev.withColumn(
        "_range",
        F.coalesce(F.floor(F.col("serial") / F.lit(span)), F.lit(-1)).cast("long"),
    )
    cols = [f.name for f in BATCH_SCHEMA.fields]

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        """One range, greedily packed in serial order."""
        pdf = pdf.sort_values("serial", kind="stable")
        range_id = int(pdf["_range"].iloc[0])
        # null serials arrive as NaN (pandas promotes nullable int64 to
        # float64): normalize to None / python int for the output frame
        serials = [None if pd.isna(x) else int(x) for x in pdf["serial"].tolist()]
        docs = pdf["doc"].tolist()
        out = []
        for seq, idxs in enumerate(pack_greedy(docs, budget, len(sep))):
            body = sep.join(docs[i] for i in idxs)
            out.append({
                "doc_id": range_id * RANGE_STRIDE + seq,
                "n_events": len(idxs),
                "first_serial": serials[idxs[0]],
                "last_serial": serials[idxs[-1]],
                "event_bytes": sum(len(docs[i].encode("utf-8")) for i in idxs)
                + len(sep) * (len(idxs) - 1),
                "doc": pro + body + epi,
            })
        return pd.DataFrame(out, columns=cols)

    return with_range.groupBy("_range").applyInPandas(pack, schema=BATCH_SCHEMA)
