"""Round-2 semantics: norm section (--with-norm analog), dispatcher
catch-all for unregistered roles (A2/U1), and the empty-event filter (P2)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from transcriptpipe import oracle, pipeline, schemas

BASE = datetime(2026, 2, 1)


def _rows(conv_id, specs):
    """specs: list of (role, text, tool)."""
    return [
        {"conv_id": conv_id, "turn_idx": i, "role": role, "text": text,
         "tool": tool, "ts": BASE + timedelta(seconds=i)}
        for i, (role, text, tool) in enumerate(specs)
    ]


@pytest.fixture(scope="module")
def mixed_df(spark):
    rows = (
        # normal conversation with an unknown role "moderator"
        _rows("conv-00000001", [
            ("system", "msg=hello policy=standard", None),
            ("user", 'msg="run the scan" seq=1', None),
            ("moderator", "msg=flagged level=2", None),
            ("assistant", "msg=done seq=2", None),
            ("EOE", "", None),
        ])
        # repeated unknown role -> REPEATED_RECORD
        + _rows("conv-00000002", [
            ("system", "msg=hello", None),
            ("auditor", "msg=check1", None),
            ("auditor", "msg=check2", None),
        ])
        # zero records, no errors -> P2: emits nothing
        + _rows("conv-00000003", [
            ("EOE", "", None),
            ("user", "   ", None),
        ])
        # tool conversation for norm object fields
        + _rows("conv-00000004", [
            ("system", "msg=sys policy=strict", None),
            ("user", 'msg="first question" seq=0', None),
            ("tool_call", "msg=call argc=2 a0=alpha a1=beta", "T01"),
            ("tool_result", "msg=result item=0", None),
            ("user", 'msg="second question" seq=1', None),
        ])
    )
    import pandas as pd

    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)


def _docs(spark, df, engine, **kw):
    conf = pipeline.PipeConf(engine=engine, persist=False, **kw)
    sinks = pipeline.build(spark, df, conf)
    return ({r["conv_id"]: r for r in sinks["json_doc"].collect()},
            sorted((r["conv_id"], r["error_code"]) for r in sinks["error"].collect()))


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_catch_all_unknown_role_in_data(spark, mixed_df, engine):
    docs, _ = _docs(spark, mixed_df, engine)
    d = json.loads(docs["conv-00000001"]["doc"])
    assert d["data"]["moderator"] == {"msg": ["flagged"], "level": ["2"]}
    # registered roles untouched
    assert "system" in d["data"] and "user" in d["data"]


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_repeated_unknown_role_errors(spark, mixed_df, engine):
    docs, errs = _docs(spark, mixed_df, engine)
    d = docs["conv-00000002"]
    assert d["error"] == schemas.ERR_REPEATED_RECORD
    assert "data" not in json.loads(d["doc"])  # P6 demotion
    assert ("conv-00000002", schemas.ERR_REPEATED_RECORD) in errs


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_empty_event_filter_p2(spark, mixed_df, engine):
    docs, errs = _docs(spark, mixed_df, engine)
    assert "conv-00000003" not in docs
    assert not any(c == "conv-00000003" for c, _ in errs)


def test_p2_oracle_agrees(mixed_df):
    rows = [r.asDict() for r in mixed_df.collect()]
    out = oracle.run_pipeline(rows)
    assert not any(d["conv_id"] == "conv-00000003" for d in out["json_doc"])


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_norm_section_contents(spark, mixed_df, engine):
    docs, _ = _docs(spark, mixed_df, engine, with_norm=True)
    n = json.loads(docs["conv-00000004"]["doc"])["norm"]
    assert n["event_kind"] == "tool_use"
    assert n["session"] == 4
    assert n["subject_kind"] == "user"
    assert n["subject_primary"] == "first question"
    assert n["subject_secondary"] == "second question"
    assert n["subject_attrs"] == ["msg", "policy"]
    assert n["action"] == "call"
    assert n["object_kind"] == "tool_args"
    assert n["object_primary"] == "alpha"
    assert n["object_secondary"] == "beta"
    assert n["result"] == 1
    assert n["how"] == "tool_1"
    assert n["key"] == "conv-00000004"
    # dialogue-only conversation
    n1 = json.loads(docs["conv-00000001"]["doc"])["norm"]
    assert n1["event_kind"] == "dialogue" and n1["action"] == "converse"
    assert "object_kind" not in n1


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_norm_in_xml(spark, mixed_df, engine):
    import xml.etree.ElementTree as ET

    conf = pipeline.PipeConf(engine=engine, persist=False, with_norm=True)
    sinks = pipeline.build(spark, mixed_df, conf)
    xml = {r["conv_id"]: r["doc"] for r in sinks["xml_doc"].collect()}
    root = ET.fromstring(xml["conv-00000004"])
    norm = root.find("norm")
    assert norm is not None
    fields = {f.get("name"): [v.text for v in f] for f in norm}
    assert fields["event_kind"] == ["tool_use"]
    assert fields["result"] == ["1"]
    # unknown role element present in data
    root1 = ET.fromstring(xml["conv-00000001"])
    assert root1.find("data/moderator") is not None


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_with_text_false_keeps_text_on_error(spark, mixed_df, engine):
    docs, _ = _docs(spark, mixed_df, engine, with_text=False)
    errored = json.loads(docs["conv-00000002"]["doc"])
    assert "text" in errored  # conv_buf.c:663-667: error keeps source text
    clean = json.loads(docs["conv-00000001"]["doc"])
    assert "text" not in clean


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_partial_text_trim_keeps_prefix(spark, mixed_df, engine):
    """A doc slightly over budget keeps a PREFIX of text lines (per-line
    trim, gbtree.c:468-553 analog) instead of losing all text."""
    full_docs, _ = _docs(spark, mixed_df, engine)
    full = json.loads(full_docs["conv-00000004"]["doc"])
    full_len = len(full_docs["conv-00000004"]["doc"].encode())
    cap = full_len - 10  # just under the full size
    docs, _ = _docs(spark, mixed_df, engine, max_doc_bytes=cap)
    d = docs["conv-00000004"]
    assert d["trimmed"]
    obj = json.loads(d["doc"])
    assert obj["trimmed"] is True
    assert "text" in obj and len(obj["text"]) > 0, "text fully dropped"
    assert obj["text"] == full["text"][: len(obj["text"])]  # prefix
    assert len(obj["text"]) < len(full["text"])
    assert len(d["doc"].encode()) <= cap


def test_prettify_passes(spark, mixed_df):
    """F8 fold/indent: pretty output parses to the same object; XML folds to
    one element per line and stays well-formed."""
    import xml.etree.ElementTree as ET

    from transcriptpipe import render

    sinks = pipeline.build(spark, mixed_df,
                           pipeline.PipeConf(persist=False, with_norm=True))
    compact = {r["conv_id"]: r["doc"] for r in sinks["json_doc"].collect()}
    pretty = {r["conv_id"]: r["doc"]
              for r in render.prettify_json(sinks["json_doc"], indent=2).collect()}
    for cid, c in compact.items():
        p = pretty[cid]
        assert "\n" in p and p != c
        assert json.loads(p) == json.loads(c)
    pxml = {r["conv_id"]: r["doc"]
            for r in render.prettify_xml(sinks["xml_doc"]).collect()}
    for cid, x in pxml.items():
        assert "\n" in x
        ET.fromstring(x)


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_hot_conversation_cap_batch(spark, engine):
    """Skew defense: a hot conversation is capped at max_turns_per_conv by a
    NARROW filter (turn_idx is the position), marked trimmed, and cannot
    blow up per-group state — the batch analog of the streaming state cap."""
    import pandas as pd

    rows = [
        {"conv_id": "conv-00000077", "turn_idx": i,
         "role": "system" if i == 0 else "user",
         "text": f"msg=m{i} seq={i}", "tool": None,
         "ts": BASE + timedelta(seconds=i)}
        for i in range(50)
    ]
    pdf = pd.DataFrame(rows).astype(
        {"turn_idx": "int32", "tool": "string", "ts": "datetime64[us]"})
    df = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    conf = pipeline.PipeConf(engine=engine, persist=False, max_turns_per_conv=16)
    sinks = pipeline.build(spark, df, conf)
    d = sinks["json_doc"].collect()
    assert len(d) == 1
    assert d[0]["n_turns"] == 16 and d[0]["trimmed"]
    obj = json.loads(d[0]["doc"])
    assert len(obj["text"]) == 16
    # oracle agrees
    out = oracle.run_pipeline([r for r in rows], max_turns_per_conv=16)
    assert out["json_doc"][0]["n_turns"] == 16 and out["json_doc"][0]["trimmed"]


def test_fold_levels(spark, mixed_df):
    """F8 intermediate fold levels (ref lib/gbuf.c:242-280, defaults
    lib/conf.c:183): level<=N unfolds one-node-per-line, deeper folds to a
    single line; 0 == compact; huge == json.dumps full unfold."""
    from transcriptpipe import render

    sinks = pipeline.build(spark, mixed_df,
                           pipeline.PipeConf(persist=False, with_norm=True))
    compact = {r["conv_id"]: r["doc"] for r in sinks["json_doc"].collect()}
    lvl1 = {r["conv_id"]: r["doc"]
            for r in render.prettify_json(sinks["json_doc"], indent=2,
                                          fold_level=1).collect()}
    lvl99 = {r["conv_id"]: r["doc"]
             for r in render.prettify_json(sinks["json_doc"], indent=2,
                                           fold_level=99).collect()}
    for cid, c in compact.items():
        obj = json.loads(c)
        # semantic identity at every level
        assert json.loads(lvl1[cid]) == obj
        assert json.loads(lvl99[cid]) == obj
        # level 1: top-level members each on a line; nested containers inline
        for line in lvl1[cid].splitlines()[1:-1]:
            assert line.startswith("  ")
        assert lvl1[cid].count("\n") == len(obj) + 1
        # full unfold == json.dumps(indent=2)
        assert lvl99[cid] == json.dumps(obj, ensure_ascii=False, indent=2)
        # fold_level=0 == compact
        assert render.dumps_folded(obj, 0) == c
    # XML: level 1 puts <text>/<data> on their own lines, <line> inline
    import xml.etree.ElementTree as ET

    px = {r["conv_id"]: r["doc"]
          for r in render.prettify_xml(sinks["xml_doc"], fold_level=1).collect()}
    for cid, x in px.items():
        ET.fromstring(x)
        assert "\n  <text><line>" in x or "<data>" in x
        assert "\n    " not in x  # nothing deeper than level 1 unfolds
