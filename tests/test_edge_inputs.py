"""Degenerate-input probes: empty input frame, all-null text, single-turn
conversations — every engine must produce empty/consistent sinks, not
crash (the classes of input a scheduled production run WILL eventually
see)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from transcriptpipe import oracle, pipeline, schemas


def _df(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_empty_input_frame(spark, engine):
    df = spark.createDataFrame([], schema=schemas.TRANSCRIPTS)
    sinks = pipeline.build(
        spark, df, pipeline.PipeConf(engine=engine)
    )
    assert sinks["json_doc"].count() == 0
    assert sinks["xml_doc"].count() == 0
    assert sinks["error"].count() == 0
    assert sinks["raw"].count() == 0
    # metrics over empty sinks still build
    m = pipeline.metrics_frame(sinks, "empty-run")
    assert {r["sink"]: r["n_rows"] for r in m.collect()} == {
        "json_doc": 0, "xml_doc": 0, "error": 0, "raw": 0
    }


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_null_text_turns(spark, engine):
    """text is nullable in the input schema; null tokenizes like '' (the
    oracle's `row["text"] or ""`), renders as a null text line, and must
    not error-route."""
    ts = dt.datetime(2026, 3, 1)
    rows = [
        ("n-01", 0, "system", "policy=standard", None, ts),
        ("n-01", 1, "user", None, None, ts),
        ("n-01", 2, "assistant", "msg=ok", None, ts),
    ]
    out = pipeline.build(
        spark, _df(spark, rows),
        pipeline.PipeConf(engine=engine, max_doc_bytes=None),
    )
    docs = out["json_doc"].collect()
    assert len(docs) == 1 and docs[0]["error"] is None, engine
    want = oracle.run_pipeline(
        [dict(zip(["conv_id", "turn_idx", "role", "text", "tool", "ts"], r))
         for r in rows]
    )["json_doc"][0]["doc"]
    assert docs[0]["doc"] == want, engine
    assert out["error"].count() == 0


def test_turn_cap_below_one_raises(spark, tmp_path):
    """A cap below 1 leaves each conversation only its trimmed marker row,
    which renders no doc and no error. PipeConf rejects it, so build, run,
    the stream and both engines raise before any job."""
    from transcriptpipe import streaming

    for cap in (0, -3):
        with pytest.raises(ValueError, match="max_turns_per_conv"):
            pipeline.PipeConf(max_turns_per_conv=cap)
        with pytest.raises(ValueError, match="max_turns_per_conv"):
            streaming.stream_coalesce(spark, str(tmp_path), max_turns_per_conv=cap)


def test_empty_streaming_drain(spark, tmp_path):
    import os

    from transcriptpipe import streaming

    d = tmp_path / "in_empty"
    d.mkdir()
    # a parquet file with zero rows (schema present)
    pdf = pd.DataFrame(
        [], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf = pdf.astype({"conv_id": str, "turn_idx": "int32", "role": str,
                      "text": str, "tool": str})
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf.to_parquet(d / "empty.parquet", index=False)
    out = str(tmp_path / "out_empty")
    streaming.run_stream_once(spark, str(d), out, str(tmp_path / "ck"))
    assert (not os.path.exists(out)
            or spark.read.parquet(out).count() == 0)
