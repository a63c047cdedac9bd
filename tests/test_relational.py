"""sql (relational) engine vs arrow on a malformed-heavy corpus across
config space — denser error/edge coverage than the tiny engine matrix
(20% malformed conversations, 10% unknown tools, plus the turn cap)."""

from __future__ import annotations

import pytest

from transcriptpipe import pipeline, schemas, synth

CONFIGS = [
    dict(max_doc_bytes=8192, with_text=True, with_norm=True),
    dict(max_doc_bytes=600, with_text=True, with_norm=True),
    dict(max_doc_bytes=220, with_text=True, with_norm=False),
    dict(max_doc_bytes=None, with_text=False, with_norm=False),
    dict(max_doc_bytes=600, with_text=False, with_norm=True,
         max_turns_per_conv=6),
]


@pytest.fixture(scope="module")
def mal_df(spark):
    pdf = synth.gen_transcripts(n_convs=40, seed=9, malformed_frac=0.2,
                                unknown_tool_frac=0.1)
    return spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)


def test_sql_args_last_win_duplicate_keys(spark):
    """Within-turn duplicate arg keys resolve LAST-occurrence-wins on every
    engine (round 5: the sql engine now rides the ``fields`` map's
    LAST_WIN dedup instead of a pos-ordered window — this pins the two
    semantics equal, including the duplicate-slice and duplicate-argc
    shapes the synth grammar never emits)."""
    import datetime as dt

    ts = dt.datetime(2026, 1, 1)
    rows = [
        # a0 appears twice: last wins -> "good"; argc twice: last wins -> 2
        ("conv-1", 0, "R0", "msg=hi", None, ts),
        ("conv-1", 1, "R3", 'a0="bad" a0="good" argc=3 argc=2 a1=x', "T01", ts),
        # duplicate slice key a0[0]: last occurrence wins -> hex of "AB"
        ("conv-2", 0, "R3", "a0[0]=4142 a0[0]=4143 a0[1]=44 argc=1", "T01", ts),
        # dup len declaration, second wins and mismatches -> INVALID_EXECVE
        ("conv-3", 0, "R3", 'a0="abc" a0_len=3 a0_len=9', "T01", ts),
    ]
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    outs = {}
    for engine in ("sql", "arrow"):
        sinks = pipeline.build(
            spark, df, pipeline.PipeConf(persist=False, engine=engine))
        outs[engine] = {r["conv_id"]: (r["doc"], r["error"])
                        for r in sinks["json_doc"].collect()}
    assert outs["sql"] == outs["arrow"]
    doc1, err1 = outs["sql"]["conv-1"]
    assert err1 is None and '"args":["good","x"]' in doc1
    doc2, err2 = outs["sql"]["conv-2"]
    assert err2 is None and '"args":["ACD"]' in doc2
    _, err3 = outs["sql"]["conv-3"]
    assert err3 == schemas.ERR_INVALID_EXECVE


@pytest.mark.parametrize("cfg", CONFIGS, ids=[str(c) for c in CONFIGS])
def test_sql_equals_arrow_on_malformed_corpus(spark, mal_df, cfg):
    sinks_s = pipeline.build(spark, mal_df,
                             pipeline.PipeConf(persist=False, engine="sql", **cfg))
    sinks_a = pipeline.build(spark, mal_df,
                             pipeline.PipeConf(persist=False, engine="arrow", **cfg))
    a = {r["conv_id"]: r for r in sinks_s["json_doc"].collect()}
    b = {r["conv_id"]: r for r in sinks_a["json_doc"].collect()}
    assert set(a) == set(b)
    for cid in a:
        for k in ("doc", "time", "serial", "doc_id", "n_turns", "error"):
            assert a[cid][k] == b[cid][k], (cid, k)
        assert bool(a[cid]["trimmed"]) == bool(b[cid]["trimmed"]), cid
    ax = {r["conv_id"]: r["doc"] for r in sinks_s["xml_doc"].collect()}
    bx = {r["conv_id"]: r["doc"] for r in sinks_a["xml_doc"].collect()}
    assert ax == bx
    es = sorted((r["conv_id"], r["turn_idx"], r["error_code"], r["text"])
                for r in sinks_s["error"].collect())
    ea = sorted((r["conv_id"], r["turn_idx"], r["error_code"], r["text"])
                for r in sinks_a["error"].collect())
    assert es == ea and es  # the corpus must actually produce errors
