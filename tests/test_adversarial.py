"""Adversarial-input engine agreement (ADVICE r3).

The round-3 advice flagged three schema-legal-but-nasty input classes where
the render engines could disagree byte-for-byte:

* int tokens Python's int() accepts but Catalyst's try_cast rejects
  (``argc=1_0``, ``argc=+5``, unicode digits) — closed by the shared strict
  grammar (oracle.try_int / parse.strict_int: ASCII ^[0-9]+$ only);
* hex slices that decode to invalid UTF-8 — closed by make_valid_utf8
  (same U+FFFD maximal-subpart replacement as bytes.decode(errors="replace"));
* duplicate turn_idx collapsing the RANGE-framed cumsum — closed by pinning
  ROWS frames; full byte-equality under duplicates is out of contract
  ((conv_id, turn_idx) is the declared primary key, schemas.TRANSCRIPTS),
  so that part is covered by the key validator test below.
"""

from __future__ import annotations

import datetime as dt
import json

import pandas as pd
import pytest

from transcriptpipe import oracle, pipeline, schemas

TS = dt.datetime(2026, 1, 1)


def _df(spark, rows):
    pdf = pd.DataFrame(
        [
            {"conv_id": c, "turn_idx": i, "role": r, "text": t, "tool": tool,
             "ts": TS + dt.timedelta(seconds=i)}
            for (c, i, r, t, tool) in rows
        ]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)


ADVERSARIAL_ROWS = [
    # underscore int: int('1_0') == 10 in Python, null under the strict
    # grammar — argc declaration must be IGNORED identically everywhere
    ("adv-001", 0, "user", 'msg="hello there" seq=0', None),
    ("adv-001", 1, "tool_call", "argc=1_0 a0=ok", "T01"),
    # '+' signed int and unicode digit: same story
    ("adv-002", 0, "tool_call", "argc=+2 a0=x a1=y", "T02"),
    ("adv-003", 0, "tool_call", "argc=٢ a0=x", "T03"),
    # declared a0_len vs slices decoding to invalid UTF-8: decoded value is
    # U+FFFD-replaced on every engine, 3-byte replacement chars break the
    # declared length -> INVALID_EXECVE everywhere
    ("adv-004", 0, "tool_call", "argc=1 a0_len=2 a0[0]=FF a0[1]=FF", "T04"),
    # surrogate hex payload in a plain hex= field (interp value replaced)
    ("adv-005", 0, "user", "msg=ok hex=EDA080", None),
    ("adv-005", 1, "assistant", "msg=fine seq=1", None),
    # int32 overflow argc -> null (not a Python bigint) on every engine
    ("adv-006", 0, "tool_call", "argc=99999999999 a0=x", "T05"),
    # underscore item index -> null slot -> INVALID_PATH everywhere
    ("adv-007", 0, "tool_result", "msg=r item=0_0", None),
]


def test_engines_agree_on_adversarial_input(spark):
    df = _df(spark, ADVERSARIAL_ROWS)

    def run(engine):
        sinks = pipeline.build(
            spark, df, pipeline.PipeConf(engine=engine, max_doc_bytes=None)
        )
        jd = {r["conv_id"]: r for r in sinks["json_doc"].collect()}
        xml = {r["conv_id"]: r["doc"] for r in sinks["xml_doc"].collect()}
        return jd, xml

    a_jd, a_xml = run("arrow")
    # pin the judgements once against the Python oracle's view
    res = oracle.run_pipeline([r.asDict() for r in df.collect()])
    o_docs = {d["conv_id"]: d for d in res["json_doc"]}
    assert set(a_jd) == set(o_docs)
    for cid, od in o_docs.items():
        assert a_jd[cid]["doc"] == od["doc"], cid
        assert a_jd[cid]["error"] == od["error"], cid
    # the length-mismatch fixture latches INVALID_EXECVE; strict-int ones
    # must NOT error out of a mere unparseable declaration
    assert o_docs["adv-004"]["error"] == schemas.ERR_INVALID_EXECVE
    assert o_docs["adv-001"]["error"] is None
    assert o_docs["adv-007"]["error"] == schemas.ERR_INVALID_PATH
    # the replaced surrogate payload renders as U+FFFD on the interp slot
    hexfield = json.loads(o_docs["adv-005"]["doc"])["data"]["user"][0]["hex"]
    assert hexfield == ["���", "EDA080"]

    e_jd, e_xml = run("sql")
    assert set(e_jd) == set(a_jd)
    for cid in a_jd:
        assert e_jd[cid]["doc"] == a_jd[cid]["doc"], cid
        assert e_jd[cid]["error"] == a_jd[cid]["error"], cid
        assert e_xml[cid] == a_xml[cid], cid


def test_strict_int_grammar_unit():
    assert oracle.try_int("10") == 10
    assert oracle.try_int("0") == 0
    for bad in ("1_0", "+5", "-5", " 5", "5 ", "٢", "", "0x10",
                "99999999999", None):
        assert oracle.try_int(bad) is None, bad


def test_check_unique_turns_validator(spark):
    rows = [
        ("c1", 0, "user", "msg=a", None),
        ("c1", 1, "user", "msg=b", None),
        ("c1", 1, "user", "msg=c", None),
        ("c2", 0, "user", "msg=d", None),
    ]
    bad = pipeline.check_unique_turns(_df(spark, rows)).collect()
    assert [(r["conv_id"], r["turn_idx"], r["n_rows"]) for r in bad] == [
        ("c1", 1, 2)
    ]
    clean = _df(spark, [("c3", 0, "user", "msg=a", None)])
    assert pipeline.check_unique_turns(clean).count() == 0


def test_invalid_utf8_slice_breaks_declared_len_everywhere(spark):
    """a0_len counts re-encoded UTF-8 bytes of the replaced decode on ALL
    engines (Python len(decoded.encode()) == Catalyst octet_length of the
    make_valid_utf8 value)."""
    # FF FF decodes to two U+FFFD = 6 re-encoded bytes; declare 6 -> VALID
    rows = [("ok-01", 0, "tool_call", "argc=1 a0_len=6 a0[0]=FF a0[1]=FF", "T01")]
    df = _df(spark, rows)
    res = oracle.run_pipeline([r.asDict() for r in df.collect()])
    assert res["json_doc"][0]["error"] is None
    for eng in ("arrow", "sql"):
        out = pipeline.build(
            spark, df, pipeline.PipeConf(engine=eng, max_doc_bytes=None)
        )["json_doc"].collect()
        assert out[0]["error"] is None, eng
        assert out[0]["doc"] == res["json_doc"][0]["doc"], eng
