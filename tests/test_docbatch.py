"""S6 document batching: count / one / bare / all / byte-budget modes
(format.h:52-59 semantics), prologue/epilogue wrapping (conv_buf.c:711-757),
retry-stable assignment, and the greedy byte-packing oracle equivalence."""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from transcriptpipe import docbatch, pipeline, schemas, synth


@pytest.fixture(scope="module")
def events(spark):
    """A small rendered-event frame with a deterministic serial gap (serial 7
    missing) so count-mode documents can be sparse."""
    rows = [
        (s, json.dumps({"serial": s, "payload": "x" * (10 + 7 * (s % 5))},
                       separators=(",", ":")))
        for s in range(23) if s != 7
    ]
    return spark.createDataFrame(rows, "serial long, doc string")


def _collect(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_count_mode_assembles_multi_event_docs(events):
    out = _collect(docbatch.batch_documents(events, events_per_doc=10))
    assert set(out) == {0, 1, 2}
    d0 = out[0]
    assert d0["n_events"] == 9  # serial 7 missing
    assert d0["first_serial"] == 0 and d0["last_serial"] == 9
    parsed = json.loads(d0["doc"])
    assert [e["serial"] for e in parsed] == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    # byte accounting: events + separators, excluding prologue/epilogue
    assert d0["event_bytes"] == len(d0["doc"].encode()) - 2


def test_count_mode_golden_document(events):
    """Golden: the exact document string for doc_id=2 (serials 20..22)."""
    out = _collect(docbatch.batch_documents(events, events_per_doc=10))
    want = "[" + ",".join(
        json.dumps({"serial": s, "payload": "x" * (10 + 7 * (s % 5))},
                   separators=(",", ":"))
        for s in (20, 21, 22)
    ) + "]"
    assert out[2]["doc"] == want


def test_one_mode_wraps_each_event(events):
    out = docbatch.batch_documents(events, events_per_doc=1).collect()
    assert len(out) == 22
    for r in out:
        assert r["doc"].startswith("[{") and r["doc"].endswith("}]")
        assert r["n_events"] == 1 and r["doc_id"] == r["first_serial"]


def test_bare_mode_no_wrapping(events):
    out = docbatch.batch_documents(events, events_per_doc=0).collect()
    assert all(r["doc"].startswith("{") for r in out)
    assert len(out) == 22


def test_all_mode_single_document(events):
    out = docbatch.batch_documents(events, events_per_doc="all").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 22
    assert [e["serial"] for e in json.loads(r["doc"])] == sorted(
        s for s in range(23) if s != 7
    )


def test_xml_mode_well_formed(events):
    rows = [(r["serial"], f"<event serial=\"{r['serial']}\"/>")
            for r in events.collect()]
    xev = events.sparkSession.createDataFrame(rows, "serial long, doc string")
    out = docbatch.batch_documents(xev, events_per_doc=10, fmt="xml").collect()
    for r in out:
        root = ET.fromstring(r["doc"])
        assert root.tag == "log"
        assert r["doc"].startswith(docbatch.XML_PROLOGUE)


def test_byte_mode_matches_greedy_oracle(events):
    budget = 120
    out = docbatch.batch_documents(events, events_per_doc=-budget,
                                   byte_range_span=4096).collect()
    rows = sorted(events.collect(), key=lambda r: r["serial"])
    docs = [r["doc"] for r in rows]
    serials = [r["serial"] for r in rows]
    groups = docbatch.pack_greedy(docs, budget, sep_len=1)
    got = sorted((r["first_serial"], r["last_serial"], r["n_events"],
                  r["event_bytes"], r["doc"]) for r in out)
    want = sorted(
        (serials[g[0]], serials[g[-1]], len(g),
         sum(len(docs[i].encode()) for i in g) + (len(g) - 1),
         "[" + ",".join(docs[i] for i in g) + "]")
        for g in groups
    )
    assert got == want
    # every document except the stream's last closed at >= budget bytes
    for fs, ls, n, b, d in got[:-1]:
        assert b >= budget


def test_byte_mode_ranges_are_independent(events):
    """Documents never span byte ranges: packing each range separately equals
    the distributed result (retry-stable assignment)."""
    budget, span = 150, 8
    out = docbatch.batch_documents(events, events_per_doc=-budget,
                                   byte_range_span=span).collect()
    rows = sorted(events.collect(), key=lambda r: r["serial"])
    want = []
    by_range: dict[int, list] = {}
    for r in rows:
        by_range.setdefault(r["serial"] // span, []).append(r)
    for rid, rs in by_range.items():
        docs = [r["doc"] for r in rs]
        for seq, g in enumerate(docbatch.pack_greedy(docs, budget, 1)):
            want.append((rid * docbatch.RANGE_STRIDE + seq, len(g)))
    assert sorted((r["doc_id"], r["n_events"]) for r in out) == sorted(want)


def test_pipeline_doc_batch_sink(spark):
    """End-to-end: transcripts -> json_doc -> batched log documents."""
    tdf = spark.createDataFrame(synth.gen_transcripts(n_convs=30),
                                schema=schemas.TRANSCRIPTS)
    sinks = pipeline.build(spark, tdf,
                           pipeline.PipeConf(doc_batch=8))
    logs = sinks["json_log"].collect()
    assert sum(r["n_events"] for r in logs) == 30
    for r in logs:
        events = json.loads(r["doc"])
        assert all(e["serial"] // 8 == r["doc_id"] for e in events)
    xlogs = sinks["xml_log"].collect()
    assert sum(r["n_events"] for r in xlogs) == 30
    for r in xlogs:
        ET.fromstring(r["doc"])


def test_byte_mode_null_serial_routes_to_sentinel_range(spark):
    """ADVICE r2: a null serial (conv_id without trailing digits) must not
    crash byte-budget mode — it routes to the sentinel range -1 and still
    packs greedily."""
    import pandas as pd

    pdf = pd.DataFrame({
        "serial": pd.array([0, 1, None, None, 7], dtype="Int64"),
        "doc": [f'{{"x":{i}}}' for i in range(5)],
    })
    ev = spark.createDataFrame(pdf)
    out = docbatch.batch_documents(ev, events_per_doc=-40,
                                   byte_range_span=8).collect()
    assert sum(r["n_events"] for r in out) == 5
    sentinel = [r for r in out if r["doc_id"] < 0]
    assert sentinel and all(r["first_serial"] is None for r in sentinel)
    assert sum(r["n_events"] for r in sentinel) == 2
    # count mode tolerates them too (null group)
    cm = docbatch.batch_documents(ev, events_per_doc=2).collect()
    assert sum(r["n_events"] for r in cm) == 5
