"""End-to-end equality: Spark pipeline vs single-process oracle.

This is the golden-output analog of aushape's README examples
(/root/reference/README.md:21-74) made executable: per-conversation document
equality, per-sink counts, routed-row equality, and the per-turn text
invariant from BASELINE.json input_hint.
"""

from __future__ import annotations

import json

import pytest

from transcriptpipe import oracle, pipeline


@pytest.fixture(scope="module")
def spark_sinks(spark, tiny_df):
    sinks = pipeline.build(spark, tiny_df, pipeline.PipeConf(max_doc_bytes=None))
    return {
        "json_doc": sinks["json_doc"].collect(),
        "xml_doc": sinks["xml_doc"].collect(),
        "error": sinks["error"].collect(),
        "raw": sinks["raw"].collect(),
    }


@pytest.fixture(scope="module")
def oracle_out(tiny_rows):
    return oracle.run_pipeline(tiny_rows)


def test_per_sink_counts(spark_sinks, oracle_out):
    for sink, n in oracle_out["counts"].items():
        assert len(spark_sinks[sink]) == n, sink


def test_doc_equality(spark_sinks, oracle_out):
    got = {r["conv_id"]: r for r in spark_sinks["json_doc"]}
    assert len(got) == len(oracle_out["json_doc"])
    for want in oracle_out["json_doc"]:
        g = got[want["conv_id"]]
        for k in ("doc_id", "serial", "time", "n_turns", "trimmed", "error"):
            assert g[k] == want[k], (want["conv_id"], k, g[k], want[k])
        # semantic equality of the rendered documents
        assert json.loads(g["doc"]) == json.loads(want["doc"]), want["conv_id"]


def test_doc_exact_string_equality(spark_sinks, oracle_out):
    """to_json and the oracle's json.dumps must agree byte-for-byte — this is
    the analog of aushape's golden-output corpus."""
    got = {r["conv_id"]: r["doc"] for r in spark_sinks["json_doc"]}
    for want in oracle_out["json_doc"]:
        assert got[want["conv_id"]] == want["doc"], want["conv_id"]


def test_routed_row_equality_error_sink(spark_sinks, oracle_out):
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["error_code"], r["text"])
        for r in spark_sinks["error"]
    )
    want = sorted(
        (e["conv_id"], e["turn_idx"], e["error_code"], e["text"])
        for e in oracle_out["error"]
    )
    assert got == want


def test_per_turn_text_invariant(spark_sinks, tiny_rows):
    """input_hint invariant: exploding doc text[] re-joined on
    (conv_id, turn_idx) must equal the input text exactly."""
    input_text = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tiny_rows}
    n_checked = 0
    for r in spark_sinks["json_doc"]:
        doc = json.loads(r["doc"])
        for i, t in enumerate(doc["text"]):
            assert input_text[(r["conv_id"], i)] == t, (r["conv_id"], i)
            n_checked += 1
    assert n_checked == len(tiny_rows)


def test_raw_sink_passthrough(spark_sinks, tiny_rows):
    assert len(spark_sinks["raw"]) == len(tiny_rows)
    got = sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in spark_sinks["raw"])
    want = sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in tiny_rows)
    assert got == want


def test_xml_well_formed(spark_sinks):
    import xml.etree.ElementTree as ET

    for r in spark_sinks["xml_doc"]:
        root = ET.fromstring(r["doc"])
        assert root.tag == "event"
        assert root.get("serial") == str(r["serial"])


# ---------------------------------------------------------------------------
# round-4 DuckDB doc-bytes mirror (_transcript_docs_sql)
# ---------------------------------------------------------------------------

def test_fixture_docs_stay_under_trim_cap():
    """_transcript_docs_sql mirrors the fixture's regime only: no fixture
    doc may reach the default 8192-byte trim cap (the mirror renders full
    docs and pins trimmed=false). If synth ever changes to produce bigger
    docs, this fails BEFORE the correctness gate silently diverges."""
    import __spark_entry__ as e
    import pandas as pd

    rows = pd.read_parquet(e._ensure_fixture()).to_dict("records")
    for wn in (False, True):
        res = oracle.run_pipeline(rows, with_norm=wn)
        mx = max(len(d["doc"].encode()) for d in res["json_doc"])
        assert mx <= 8192 - 512, f"with_norm={wn}: max doc {mx} too close to cap"
        assert not any(d["trimmed"] for d in res["json_doc"])


def test_docs_sql_mirror_matches_python_oracle_on_torture_corpus(tmp_path):
    """The DuckDB doc-bytes mirror must reproduce the Python oracle's doc
    BYTES on inputs beyond the driver fixture: catch-all roles (incl. a
    lowercase collision with a registered role), XML-escaping characters,
    argc-only EXECVE, and quoted/escaped values."""
    import datetime as dt

    import duckdb
    import pandas as pd

    import __spark_entry__ as e
    from transcriptpipe import render, schemas, synth

    ts = dt.datetime(2026, 2, 1)
    rows = []

    def emit(c, i, role, text, tool=None):
        rows.append({"conv_id": c, "turn_idx": i, "role": role, "text": text,
                     "tool": tool, "ts": ts + dt.timedelta(seconds=i)})

    # catch-all role, first-appearance order, plus catch key colliding with
    # a registered role name after lowercasing (must be excluded)
    emit("tt-00000001", 0, "system", 'msg="hello <world> & \'quotes\'" policy=standard')
    emit("tt-00000001", 1, "Critique", 'note="escaped \\"quote\\" here" x=1')
    emit("tt-00000001", 2, "USER", "msg=collides")     # lower 'user' reserved
    emit("tt-00000001", 3, "user", "msg=real_user")
    emit("tt-00000001", 4, "EOE", "")
    # argc-only execve (args == []) + tools + slots
    emit("tt-00000002", 0, "tool_call", "argc=0", "T03")
    emit("tt-00000002", 1, "tool_result", "msg=r item=0")
    emit("tt-00000002", 2, "EOE", "")
    # sliced-hex args + a hex field + unknown tool error conv
    emit("tt-00000003", 0, "tool_call", "argc=1 a0_len=5 a0[0]=68 a0[1]=656C6C6F", "T05")
    emit("tt-00000003", 1, "assistant", "msg=ok hex=776F7264")
    emit("tt-00000004", 0, "user", "msg=x", "T93")     # unknown tool
    emit("tt-00000004", 1, "assistant", "msg=y")

    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    path = str(tmp_path / "torture.parquet")
    pdf.to_parquet(path, index=False)

    for wn, xml in ((False, False), (True, False), (False, True)):
        res = oracle.run_pipeline(pdf.to_dict("records"), with_norm=wn)
        exp = {}
        for d in res["json_doc"]:
            doc = d["doc"]
            if xml:
                doc = render.xml_from_doc(json.loads(doc))
            exp[d["conv_id"]] = (d["serial"], d["time"], d["n_turns"], doc,
                                 d["error"])
        sql = e._transcript_docs_sql(with_norm=wn, xml=xml).replace(
            e._ensure_fixture(), path
        )
        got = {r[0]: (r[2], r[3], r[4], r[5], r[7])
               for r in duckdb.sql(sql).fetchall()}
        assert set(got) == set(exp), (wn, xml)
        for cid in exp:
            assert got[cid] == exp[cid], (cid, wn, xml, got[cid], exp[cid])
        # sanity on the fixtures: catch-all rendered, collision excluded
        if not xml and not wn:
            data = json.loads(exp["tt-00000001"][3])["data"]
            assert "critique" in data and "user" in data
            assert data["user"] == [{"msg": ["real_user"]}]
