"""Collector semantics tests — the error taxonomy of rc.h:24-48 and the
per-collector state machines (SURVEY.md §2.4 A3/A4/A5, §2.2 P3/P4).

Each test builds one conversation with a known malformed fixture via
synth.gen_conversation and asserts the routed error code, mirroring the
reference's validation points:
  bad argc    -> INVALID_EXECVE (execve_coll.c:133-139, 519-577)
  item hole   -> INVALID_PATH   (path_coll.c:231-233)
  dup system  -> REPEATED_RECORD(uniq_coll.c:151-153)
  bad hex     -> INVALID_HEX    (interpretation failure)
  no tokens   -> PARSE_FAIL
  unknown tool-> UNKNOWN_TOOL   (anti-join case)
"""

from __future__ import annotations

import json

import pytest

from transcriptpipe import pipeline, schemas, synth


def _run_one(spark, **gen_kw):
    import pandas as pd

    rows = synth.gen_conversation(conv_i=3, seed=7, **gen_kw)
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    df = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    sinks = pipeline.build(spark, df, pipeline.PipeConf(max_doc_bytes=None))
    doc = sinks["json_doc"].collect()[0]
    errs = sinks["error"].collect()
    return doc, errs


@pytest.mark.parametrize(
    "kind,code",
    [
        ("bad_argc", schemas.ERR_INVALID_EXECVE),
        ("item_hole", schemas.ERR_INVALID_PATH),
        ("dup_system", schemas.ERR_REPEATED_RECORD),
        ("bad_hex", schemas.ERR_INVALID_HEX),
        ("parse_fail", schemas.ERR_PARSE_FAIL),
    ],
)
def test_malformed_kinds(spark, kind, code):
    doc, errs = _run_one(spark, malformed_kind=kind)
    assert doc["error"] == code
    assert code in {e["error_code"] for e in errs}
    # P6 error demotion: data voided, text kept
    d = json.loads(doc["doc"])
    assert "data" not in d
    assert len(d["text"]) == doc["n_turns"]


def test_unknown_tool(spark):
    doc, errs = _run_one(spark, unknown_tool=True)
    assert doc["error"] == schemas.ERR_UNKNOWN_TOOL
    assert any(e["error_code"] == schemas.ERR_UNKNOWN_TOOL for e in errs)


def test_clean_conversation(spark):
    doc, errs = _run_one(spark)
    assert doc["error"] is None
    assert errs == []
    d = json.loads(doc["doc"])
    assert "data" in d
    assert "system" in d["data"]


def test_slot_order_insensitive(spark):
    """A4: item=N slots are placed by index regardless of arrival order —
    the doc must be identical for any shuffle of the input rows."""
    import pandas as pd

    rows = synth.gen_conversation(conv_i=5, seed=11)
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    base = None
    for perm_seed in (0, 1):
        shuffled = pdf.sample(frac=1.0, random_state=perm_seed)
        df = spark.createDataFrame(shuffled, schema=schemas.TRANSCRIPTS)
        sinks = pipeline.build(spark, df, pipeline.PipeConf(max_doc_bytes=None))
        doc = sinks["json_doc"].collect()[0]["doc"]
        if base is None:
            base = doc
        else:
            assert doc == base


def test_eoe_in_text_not_data(spark):
    """P4: EOE rows appear in text[] (raw line preserved) but never in data —
    the drop collector drops the record body only (conv_buf.c:530-547 adds the
    raw line before dispatch; drop_coll.c discards the body)."""
    doc, _ = _run_one(spark)
    d = json.loads(doc["doc"])
    assert d["text"][-1] == ""  # EOE marker line
    assert "EOE" not in json.dumps(d.get("data", {}))
