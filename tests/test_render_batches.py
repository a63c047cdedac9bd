"""The sorted render pass across Arrow batch boundaries, and the same rows
through Spark.

``arrow_docs.render_sorted_batches`` carries the open conversation from one
batch into the next, and ``arrow_docs.cap_rows`` is its turn cap. Cutting
one sorted frame at every position, or into 1-row batches, must not change
a byte of the output, and that output must equal the oracle's at the same
cap. Through ``pipeline.build`` the beyond-cap rows cross the exchange as
bare markers, and both engines must still equal the oracle."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pandas as pd
import pytest

from transcriptpipe import arrow_docs, oracle, pipeline, render, schemas

CAP = 4
T0 = datetime(2026, 3, 4)


def _raw_rows() -> list[dict]:
    rows = []

    def add(cid, turn_idx, role, text, tool=None, ts_s=None):
        rows.append({"conv_id": cid, "turn_idx": turn_idx, "role": role,
                     "text": text, "tool": tool,
                     "ts": T0 + timedelta(seconds=turn_idx if ts_s is None else ts_s)})

    # capped: the rows beyond the cap start the next batch at some cut
    for i in range(7):
        add("conv-00000001", i, "R0" if i else "R2", f'msg="m{i}" n={i}')
    # sparse turn_idx around the cap, with a tool call and a tool result
    add("conv-00000002", 0, "R0", 'msg="a<b & c"')
    add("conv-00000002", 2, "R3", "a0=ls argc=1", tool="T01")
    add("conv-00000002", 3, "R4", "item=0 name=/tmp")
    add("conv-00000002", 7, "R1", 'msg="beyond"')
    add("conv-00000002", 9, "EOE", "")
    # only beyond-cap rows: no doc
    add("conv-00000003", 5, "R0", 'msg="late"')
    add("conv-00000003", 6, "R1", 'msg="later"')
    # ts falls as turn_idx rises: the beyond-cap row is the earliest, and
    # must not set the doc's time
    for i in range(6):
        add("conv-00000004", i, "R1", f'msg="d{i}"', ts_s=100 - 10 * i)
    # under the cap, with a row error (unknown tool) and a non-ASCII line
    add("conv-00000005", 0, "R0", 'msg="héllo"')
    add("conv-00000005", 1, "R3", "a0=x", tool="T93")
    return rows


def _sorted_frame(rows: list[dict]) -> pd.DataFrame:
    pdf = pd.DataFrame([{
        "conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
        "role_name": oracle.ROLE_MAP.get(r["role"], r["role"]),
        "text": r["text"], "tool": r["tool"],
        "tool_name": oracle.TOOL_MAP.get(r["tool"]) if r["tool"] else None,
        "ts": r["ts"],
    } for r in rows], columns=arrow_docs.SORTED_COLS)
    pdf = pdf.astype({"turn_idx": "int32", "ts": "datetime64[us]"})
    return pdf.sort_values(["conv_id", "turn_idx"], ignore_index=True)


def _render(batches: list[pd.DataFrame], want_xml: bool = True) -> list[dict]:
    frames = list(arrow_docs.render_sorted_batches(
        batches, max_doc_bytes=8192, max_turns_per_conv=CAP, want_xml=want_xml))
    return pd.concat(frames).to_dict("records") if frames else []


@pytest.fixture(scope="module")
def frame():
    return _sorted_frame(_raw_rows())


@pytest.fixture(scope="module")
def one_batch(frame):
    return _render([frame])


def test_one_batch_matches_oracle(one_batch):
    want = oracle.run_pipeline(_raw_rows(), max_turns_per_conv=CAP)["json_doc"]
    keys = ["conv_id", "doc_id", "serial", "time", "n_turns", "doc",
            "trimmed", "error"]
    assert [{k: d[k] for k in keys} for d in one_batch] == want
    got = {d["conv_id"]: d for d in one_batch}
    assert "conv-00000003" not in got
    assert got["conv-00000001"]["trimmed"] and got["conv-00000001"]["n_turns"] == CAP
    assert got["conv-00000002"]["trimmed"] and got["conv-00000002"]["n_turns"] == 3
    assert got["conv-00000004"]["time"] == "2026-03-04T00:01:10.000Z"
    assert not got["conv-00000005"]["trimmed"]


@pytest.mark.parametrize("cut", range(1, len(_raw_rows())))
def test_two_batches_at_every_cut(frame, one_batch, cut):
    assert _render([frame.iloc[:cut], frame.iloc[cut:]]) == one_batch


def test_one_row_batches(frame, one_batch):
    empty = frame.iloc[:0]
    batches = [empty] + [frame.iloc[i:i + 1] for i in range(len(frame))] + [empty]
    assert _render(batches) == one_batch
    assert (_render([frame.iloc[i:i + 1] for i in range(len(frame))], want_xml=False)
            == [{**d, "xml": None} for d in one_batch])


def test_cap_rows_keeps_the_first_row_at_or_beyond_the_cap(frame):
    kept = arrow_docs.cap_rows(frame, CAP)
    assert kept.groupby("conv_id")["turn_idx"].apply(list).to_dict() == {
        "conv-00000001": [0, 1, 2, 3, 4],
        "conv-00000002": [0, 2, 3, 7],
        "conv-00000003": [5],
        "conv-00000004": [0, 1, 2, 3, 4],
        "conv-00000005": [0, 1],
    }
    assert arrow_docs.cap_rows(kept, CAP).equals(kept)
    assert arrow_docs.cap_rows(frame, None) is frame


def _spark_frame(spark):
    return spark.createDataFrame(_raw_rows(), schema=schemas.TRANSCRIPTS)


@pytest.mark.parametrize("engine", pipeline.ENGINES)
def test_spark_cap_matches_oracle(spark, engine):
    """Sparse turn_idx around the cap, a conversation with only beyond-cap
    rows, a falling ts and a row error, through the exchange and the
    render: the doc sinks and the error sink equal the oracle's."""
    conf = pipeline.PipeConf(max_turns_per_conv=CAP, engine=engine)
    sinks = pipeline.build(spark, _spark_frame(spark), conf)
    want = oracle.run_pipeline(_raw_rows(), max_turns_per_conv=CAP)
    docs = sorted((r.asDict() for r in sinks["json_doc"].collect()),
                  key=lambda d: d["conv_id"])
    assert docs == want["json_doc"]
    assert {r["conv_id"]: r["doc"] for r in sinks["xml_doc"].collect()} == {
        d["conv_id"]: render.xml_from_doc(json.loads(d["doc"]))
        for d in want["json_doc"]}

    def key(e):
        return e["conv_id"], e["turn_idx"] is not None, e["turn_idx"] or 0

    assert (sorted((r.asDict() for r in sinks["error"].collect()), key=key)
            == sorted(want["error"], key=key))


def test_exchange_sends_beyond_cap_rows_as_bare_markers(spark):
    """A row at or beyond the cap crosses the exchange with conv_id and
    turn_idx only; a row under it keeps every column."""
    rows = pipeline.exchange(pipeline.enrich(_spark_frame(spark), spark),
                             CAP).collect()
    assert len(rows) == len(_raw_rows())
    bare = ("conv_id", "turn_idx")
    for r in rows:
        rest = [v for k, v in r.asDict().items() if k not in bare]
        if r["turn_idx"] >= CAP:
            assert rest == [None] * len(rest), r
        else:
            assert None not in (r["role_name"], r["text"], r["ts"]), r
