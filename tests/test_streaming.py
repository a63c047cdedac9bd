"""Streaming-mode tests: EOE-driven stateful coalescing must agree with the
batch pipeline on completed conversations, across micro-batch boundaries."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from transcriptpipe import streaming, synth


@pytest.fixture()
def split_input(tmp_path):
    """20 conversations split across 3 files so several conversations span
    micro-batches (maxFilesPerTrigger=1 -> 3 micro-batches)."""
    pdf = synth.gen_transcripts(n_convs=20, seed=42)
    d = tmp_path / "in"
    d.mkdir()
    n = len(pdf)
    cuts = [0, int(n * 0.4), int(n * 0.7), n]
    for i in range(3):
        chunk = pdf.iloc[cuts[i]:cuts[i + 1]]
        chunk.to_parquet(d / f"part-{i}.parquet", index=False)
    _order_mtimes(*(d / f"part-{i}.parquet" for i in range(3)))
    return str(d), pdf


def test_stream_matches_batch_oracle(spark, split_input, tmp_path):
    in_dir, pdf = split_input
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    streaming.run_stream_once(spark, in_dir, out, ckpt)

    got = {r["conv_id"]: r for r in spark.read.parquet(out).collect()}
    from transcriptpipe import oracle

    want = oracle.run_pipeline(pdf.to_dict("records"))
    want_docs = {d["conv_id"]: d for d in want["json_doc"]}

    # every conversation ends with EOE in the fixture -> all complete
    assert set(got) == set(want_docs)
    for cid, w in want_docs.items():
        g = got[cid]
        assert g["complete"], cid
        assert g["n_turns"] == w["n_turns"], cid
        assert g["error"] == w["error"], cid
        assert json.loads(g["doc"]) == json.loads(w["doc"]), cid


def test_stream_incremental_restart(spark, tmp_path):
    """New files after a drained run are picked up on the next run from the
    same checkpoint (streaming resume)."""
    d = tmp_path / "in2"
    d.mkdir()
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")

    pdf = synth.gen_transcripts(n_convs=6, seed=7)
    convs = sorted(pdf["conv_id"].unique())
    first, second = convs[:3], convs[3:]
    pdf[pdf["conv_id"].isin(first)].to_parquet(d / "a.parquet", index=False)
    streaming.run_stream_once(spark, str(d), out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == len(first)

    pdf[pdf["conv_id"].isin(second)].to_parquet(d / "b.parquet", index=False)
    streaming.run_stream_once(spark, str(d), out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == len(convs)
    assert sorted(r["conv_id"] for r in got.collect()) == convs


def _write(pdf, path):
    pdf.to_parquet(path, index=False)


def _order_mtimes(*paths):
    """Give ``paths`` strictly increasing mtimes, 1 s apart, in the given
    order: the file source reads oldest mtime first and files with equal
    mtimes (millisecond resolution) in arbitrary order."""
    t = os.stat(paths[0]).st_mtime_ns
    for i, p in enumerate(paths):
        os.utime(p, ns=(t + i * 10**9, t + i * 10**9))


def test_watermark_drops_late_rows(spark, tmp_path):
    """ST3: with a watermark, late rows (behind the watermark) are dropped
    deterministically instead of re-opening state for an emitted conv."""
    from datetime import datetime, timedelta

    d = tmp_path / "in_wm"
    d.mkdir()
    out = str(tmp_path / "out_wm")
    ckpt = str(tmp_path / "ckpt_wm")
    t0 = datetime(2026, 3, 1)

    def rows(conv, specs, base):
        return pd.DataFrame([
            {"conv_id": conv, "turn_idx": i, "role": role, "text": text,
             "tool": None, "ts": base + timedelta(seconds=i)}
            for i, (role, text) in enumerate(specs)
        ]).astype({"turn_idx": "int32", "tool": "string", "ts": "datetime64[us]"})

    # batch 1: conv W completes; clock conv advances event time by 2 hours
    b1 = pd.concat([
        rows("conv-00000010", [("system", "msg=a"), ("user", "msg=b"), ("EOE", "")], t0),
        rows("conv-00000099", [("system", "msg=clock")], t0 + timedelta(hours=2)),
    ])
    _write(b1, d / "0.parquet")
    # batch 2: LATE duplicate of conv W (hours behind the watermark), with
    # EOE — without the watermark this would emit a second doc for W
    b2 = rows("conv-00000010", [("system", "msg=late"), ("EOE", "")], t0)
    _write(b2, d / "1.parquet")
    _order_mtimes(d / "0.parquet", d / "1.parquet")

    q = (
        streaming.stream_coalesce(spark, str(d), watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out).collect()
    docs_w = [r for r in got if r["conv_id"] == "conv-00000010"]
    assert len(docs_w) == 1  # the late re-open was dropped
    assert docs_w[0]["complete"]
    assert docs_w[0]["n_turns"] == 3


def test_state_cap_marks_trimmed(spark, tmp_path):
    """Per-key state is bounded: rows past max_turns_per_conv are dropped
    and the emitted doc is marked trimmed (EOE past the cap still completes
    the conversation)."""
    from datetime import datetime, timedelta

    d = tmp_path / "in_cap"
    d.mkdir()
    out = str(tmp_path / "out_cap")
    ckpt = str(tmp_path / "ckpt_cap")
    t0 = datetime(2026, 3, 2)
    rows = pd.DataFrame([
        {"conv_id": "conv-00000042", "turn_idx": i, "role": ("system" if i == 0 else "user"),
         "text": f"msg=m{i}", "tool": None, "ts": t0 + timedelta(seconds=i)}
        for i in range(30)
    ] + [{"conv_id": "conv-00000042", "turn_idx": 30, "role": "EOE", "text": "",
          "tool": None, "ts": t0 + timedelta(seconds=30)}]).astype(
        {"turn_idx": "int32", "tool": "string", "ts": "datetime64[us]"})
    _write(rows, d / "0.parquet")

    q = (
        streaming.stream_coalesce(spark, str(d), max_turns_per_conv=10)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    assert got[0]["trimmed"] and got[0]["complete"]
    assert got[0]["n_turns"] == 10


def test_processing_time_flush_incomplete(spark, tmp_path):
    """Continuous mode: a conversation that never sees EOE flushes as
    incomplete after the idle timeout (auparse flush analog)."""
    import time
    from datetime import datetime, timedelta

    d = tmp_path / "in_pt"
    d.mkdir()
    out = str(tmp_path / "out_pt")
    ckpt = str(tmp_path / "ckpt_pt")
    t0 = datetime(2026, 3, 3)
    rows = pd.DataFrame([
        {"conv_id": "conv-00000055", "turn_idx": i,
         "role": "system" if i == 0 else "user", "text": f"msg=m{i}",
         "tool": None, "ts": t0 + timedelta(seconds=i)}
        for i in range(4)  # no EOE
    ]).astype({"turn_idx": "int32", "tool": "string", "ts": "datetime64[us]"})
    rows.to_parquet(d / "0.parquet", index=False)

    q = (
        streaming.stream_coalesce(spark, str(d), timeout_ms=1000)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        got = []
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                got = spark.read.parquet(out).collect()
            except Exception:
                got = []
            if got:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert len(got) == 1
    assert not got[0]["complete"]  # timeout flush, not EOE
    assert got[0]["n_turns"] == 4


def test_stream_matches_batch_at_nondefault_conf(spark, split_input, tmp_path):
    """ST parity with PipeConf (VERDICT r2 #5): with_norm + no-text +
    max_doc_bytes trim must behave identically to the batch kernel in
    stream mode, not only at the default config."""
    in_dir, pdf = split_input
    out = str(tmp_path / "out_conf")
    ckpt = str(tmp_path / "ckpt_conf")
    streaming.run_stream_once(spark, in_dir, out, ckpt,
                              with_text=False, with_norm=True,
                              max_doc_bytes=600)
    got = {r["conv_id"]: r for r in spark.read.parquet(out).collect()}

    from transcriptpipe import fastkernel, oracle

    n_checked = 0
    for conv_id, grp in pdf.groupby("conv_id"):
        rows = sorted(
            (int(r.turn_idx), oracle.ROLE_MAP.get(r.role, r.role), r.text,
             None if pd.isna(r.tool) else r.tool,
             oracle.TOOL_MAP.get(r.tool) if not pd.isna(r.tool) else None)
            for r in grp.itertuples(index=False)
        )
        want = fastkernel.render_conv(conv_id, rows, grp["ts"].min(), False,
                                      600, 100, with_text=False,
                                      with_norm=True, want_xml=False)
        if want is None:
            assert conv_id not in got
            continue
        n_checked += 1
        g = got[conv_id]
        assert g["doc"] == want["doc"], conv_id
        assert g["trimmed"] == want["trimmed"], conv_id
        assert g["error"] == want["error"], conv_id
    assert n_checked >= 18
    docs = [json.loads(g["doc"]) for g in got.values()]
    assert any("norm" in d for d in docs)
    assert all("text" not in d or d.get("error") for d in docs)


def test_stream_xml_matches_batch_xml(spark, split_input, tmp_path):
    """Round 4: --lang xml streams through the same fused kernel — the
    streamed xml docs are byte-equal to the Python oracle's xml rendering
    (and hence to every batch engine's xml_doc sink)."""
    from transcriptpipe import oracle, render

    in_dir, pdf = split_input
    out = str(tmp_path / "out_xml")
    ckpt = str(tmp_path / "ckpt_xml")
    streaming.run_stream_once(spark, in_dir, out, ckpt, lang="xml")

    got = {r["conv_id"]: r for r in spark.read.parquet(out).collect()}
    want = oracle.run_pipeline(pdf.to_dict("records"))
    want_docs = {d["conv_id"]: d for d in want["json_doc"]}
    assert set(got) == set(want_docs)
    for cid, w in want_docs.items():
        g = got[cid]
        assert g["complete"], cid
        assert g["doc"] == render.xml_from_doc(json.loads(w["doc"])), cid
    # sink schema is the per-language one: the doc column IS the xml
    assert "xml" not in spark.read.parquet(out).columns


@pytest.mark.parametrize("lang", ["json", "xml"])
def test_stream_sink_is_the_batch_doc_row(spark, split_input, tmp_path, lang):
    """The drained stream sink is the batch doc sink plus ``complete``: the
    same column names and types in the same order, and without
    ``complete`` the same rows as ``pipeline.build``'s ``<lang>_doc`` for
    the same input and render options (trim and turn cap included)."""
    from pyspark.sql import types as T

    from transcriptpipe import pipeline, schemas

    in_dir, pdf = split_input
    opts = dict(max_turns_per_conv=6, with_norm=True, max_doc_bytes=600)
    out = str(tmp_path / f"out_row_{lang}")
    streaming.run_stream_once(spark, in_dir, out,
                              str(tmp_path / f"ckpt_row_{lang}"), lang=lang,
                              **opts)
    got = spark.read.parquet(out)
    batch = pipeline.build(
        spark, spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS),
        pipeline.PipeConf(langs=(lang,), **opts))[f"{lang}_doc"]

    def fields(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    assert fields(got) == fields(batch) + [("complete", T.BooleanType())]
    rows = [r.asDict() for r in got.collect()]
    assert all(r.pop("complete") for r in rows)
    want = [r.asDict() for r in batch.collect()]
    assert any(r["trimmed"] for r in want)
    assert sorted(rows, key=lambda r: r["conv_id"]) == \
        sorted(want, key=lambda r: r["conv_id"])


def test_stream_defaults_are_the_batch_defaults(spark, tmp_path):
    """With no render options the stream renders at ``PipeConf()``'s: a
    conversation whose doc exceeds the default 8192-byte cap is trimmed as
    in batch, and the sink rows are ``pipeline.build``'s ``json_doc`` rows
    plus ``complete``."""
    from transcriptpipe import pipeline, schemas

    pdf = synth.gen_transcripts(n_convs=8, seed=11, hot_frac=0.125,
                                hot_turns=300)
    d = tmp_path / "in_defaults"
    d.mkdir()
    pdf.to_parquet(d / "0.parquet", index=False)
    out = str(tmp_path / "out_defaults")
    streaming.run_stream_once(spark, str(d), out, str(tmp_path / "ckpt_defaults"))
    rows = [r.asDict() for r in spark.read.parquet(out).collect()]
    assert all(r.pop("complete") for r in rows)

    batch = pipeline.build(
        spark, spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS))["json_doc"]
    want = [r.asDict() for r in batch.collect()]
    assert any(r["trimmed"] for r in want)
    assert sorted(rows, key=lambda r: r["conv_id"]) == \
        sorted(want, key=lambda r: r["conv_id"])


def test_stream_renders_once_above_the_state(spark, tmp_path):
    """The state operator renders nothing: the stream's plan has exactly
    one MapInPandas, the batch render operator, above it."""
    d = tmp_path / "in_plan"
    d.mkdir()
    synth.gen_transcripts(n_convs=2).to_parquet(d / "0.parquet", index=False)
    plan = streaming.stream_coalesce(spark, str(d))._jdf.queryExecution().analyzed()
    ops = [line.lstrip(" :+-~").split(" ")[0]
           for line in plan.toString().splitlines()]
    assert ops.count("MapInPandas") == 1
    assert ops.index("MapInPandas") < ops.index("FlatMapGroupsInPandasWithState")


@pytest.mark.parametrize("field", [dict(engine="sql"), dict(doc_batch=10),
                                   dict(fold_level=2), dict(stage_dir="stage"),
                                   dict(persist=True)])
def test_stream_rejects_batch_only_fields(spark, tmp_path, field):
    with pytest.raises(ValueError):
        streaming.stream_coalesce(spark, str(tmp_path), **field)


def test_stream_resolves_roles_from_enrich_dictionaries(spark, tmp_path,
                                                        monkeypatch):
    """The stream drain reads through the enrich layer: a role code that
    only the role dictionary knows (R9) resolves exactly as in batch."""
    from transcriptpipe import pipeline, schemas

    rows = synth.role_dict_rows()
    monkeypatch.setattr(synth, "role_dict_rows", lambda: rows + [
        {"role_code": "R9", "role_name": "assistant"}])
    pdf = synth.gen_transcripts(n_convs=12, seed=3)
    pdf["role"] = pdf["role"].replace("R1", "R9")
    assert (pdf["role"] == "R9").any()
    d = tmp_path / "in_r9"
    d.mkdir()
    pdf.to_parquet(d / "0.parquet", index=False)

    out = str(tmp_path / "out_r9")
    streaming.run_stream_once(spark, str(d), out, str(tmp_path / "ckpt_r9"))
    got = {r["conv_id"]: r["doc"] for r in spark.read.parquet(out).collect()}
    batch = pipeline.build(
        spark, spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS),
        pipeline.PipeConf(max_doc_bytes=None, langs=("json",)))
    want = {r["conv_id"]: r["doc"] for r in batch["json_doc"].collect()}
    assert got == want
    assert any('"assistant"' in doc for doc in want.values())


class _StubState:
    """The slice of GroupState the stateful function uses, in memory, at a
    settable processing time and watermark; ``timeout`` is the last timer
    set."""

    hasTimedOut = False

    def __init__(self, now_ms=0, wm_ms=0):
        self.value, self.timeout = None, None
        self.now_ms, self.wm_ms = now_ms, wm_ms

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def getCurrentProcessingTimeMs(self):
        return self.now_ms

    def setTimeoutDuration(self, ms):
        self.timeout = ms

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def test_state_holds_cap_plus_one_and_matches_batch(spark):
    """Beyond-cap rows arrive in a micro-batch before the EOE: the state
    keeps at most cap+1 rows, and the emitted doc is trimmed and byte-equal
    to the batch render at the same cap."""
    from datetime import datetime, timedelta

    from transcriptpipe import arrow_docs, enrich, pipeline, schemas

    cap, cid = 4, "conv-00000077"
    t0 = datetime(2026, 3, 4)
    pdf = pd.DataFrame([
        {"conv_id": cid, "turn_idx": i, "role": "R2" if i == 0 else "R0",
         "text": f"msg=m{i}", "tool": "T01" if i == 2 else None,
         "ts": t0 + timedelta(seconds=i)}
        for i in range(9)
    ] + [{"conv_id": cid, "turn_idx": 9, "role": "EOE", "text": "",
          "tool": None, "ts": t0 + timedelta(seconds=9)}]).astype(
        {"turn_idx": "int32", "tool": "string", "ts": "datetime64[us]"})
    df = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    enriched = enrich.enrich(df, spark).toPandas().sort_values("turn_idx")
    micro_batches = [enriched.iloc[:3], enriched.iloc[3:7], enriched.iloc[7:]]

    fn = streaming._make_coalesce_fn(None, cap)
    state, out = _StubState(), []
    for mb in micro_batches:
        out += list(fn((0,), iter([mb]), state))  # the bucket key is unused
        if state.exists:
            assert len(state.get[0]) <= cap + 1
    assert not state.exists
    (doc,) = pd.concat(arrow_docs.render_sorted_batches(
        out, max_doc_bytes=None, max_turns_per_conv=cap,
        want_xml=False)).to_dict("records")
    assert doc["complete"] and doc["trimmed"] and doc["n_turns"] == cap

    batch = pipeline.build(spark, df, pipeline.PipeConf(
        max_doc_bytes=None, max_turns_per_conv=cap,
        langs=("json",)))["json_doc"].first()
    assert batch["trimmed"]
    assert doc["doc"] == batch["doc"]


T_BUCKET = pd.Timestamp("2026-03-05")


def _sorted_rows(cid, turns, start_s=0, eoe_at=None):
    """``SORTED_COLS`` rows of ``cid``: turn ``i`` at ``start_s + i``
    seconds after ``T_BUCKET``, the turn ``eoe_at`` an EOE."""
    return pd.DataFrame([
        {"conv_id": cid, "turn_idx": i,
         "role_name": "EOE" if i == eoe_at else "user", "text": f"msg=m{i}",
         "tool": None, "tool_name": None,
         "ts": T_BUCKET + pd.Timedelta(seconds=start_s + i)}
        for i in turns
    ]).astype({"turn_idx": "int32", "ts": "datetime64[us]"})


def _call(fn, state, *frames):
    """One call of the bucket function with ``frames`` as its new rows:
    the released rows as one frame (possibly empty)."""
    out = list(fn((0,), iter(frames), state))
    return pd.concat(out) if out else pd.DataFrame(columns=["conv_id"])


def _held(state):
    """conv_id -> number of rows the bucket's state holds for it."""
    if not state.exists:
        return {}
    return pd.Series(state.get[0]).value_counts().to_dict()


def test_bucket_releases_on_eoe_and_holds_the_rest():
    """One bucket, two conversations: the one whose EOE arrives is released
    complete with all its turns in order; the other stays held."""
    fn = streaming._make_coalesce_fn(None, 2048)
    state = _StubState()
    assert _call(fn, state, _sorted_rows("a", [0, 1]),
                 _sorted_rows("b", [0, 1])).empty
    got = _call(fn, state, pd.concat([_sorted_rows("b", [2]),
                                      _sorted_rows("a", [3, 2], eoe_at=3)]))
    assert set(got["conv_id"]) == {"a"}
    assert got["turn_idx"].tolist() == [0, 1, 2, 3]
    assert got["complete"].all()
    assert _held(state) == {"b": 3}


def test_bucket_state_holds_cap_plus_one_per_open_conversation():
    """State never exceeds cap + 1 rows per open conversation, however many
    beyond-cap rows arrive."""
    cap = 3
    fn = streaming._make_coalesce_fn(None, cap)
    state = _StubState()
    for lo in range(0, 12, 2):
        assert _call(fn, state, _sorted_rows("a", [lo, lo + 1]),
                     _sorted_rows("b", [lo + 1, lo])).empty
        assert max(_held(state).values()) <= cap + 1
    assert _held(state) == {"a": cap + 1, "b": cap + 1}
    got = _call(fn, state, _sorted_rows("a", [12], eoe_at=12))
    assert got["turn_idx"].tolist() == [0, 1, 2, 3]
    assert _held(state) == {"b": cap + 1}


def test_bucket_processing_time_flushes_the_idle_conversation_only():
    """Processing time: an idle conversation flushes incomplete once its
    last arrival plus the timeout is behind the clock, while a busy one in
    the same bucket stays held; the timer follows the earliest held
    deadline, and a timer call flushes the rest."""
    fn = streaming._make_coalesce_fn(1000, 2048)
    state = _StubState(now_ms=10_000)
    assert _call(fn, state, _sorted_rows("idle", [0, 1]),
                 _sorted_rows("busy", [0])).empty
    assert state.timeout == 1000
    state.now_ms = 10_800
    assert _call(fn, state, _sorted_rows("busy", [1])).empty
    assert state.timeout == 200  # idle's deadline, 11_000
    state.now_ms = 11_500
    got = _call(fn, state, _sorted_rows("busy", [2]))
    assert set(got["conv_id"]) == {"idle"}
    assert got["turn_idx"].tolist() == [0, 1]
    assert not got["complete"].any()
    assert _held(state) == {"busy": 3}
    assert state.timeout == 1000
    state.now_ms = 12_600
    got = _call(fn, state)  # the timer call: no new rows
    assert got["turn_idx"].tolist() == [0, 1, 2]
    assert not got["complete"].any() and not state.exists


def test_bucket_event_time_flushes_the_idle_conversation_only():
    """Event time: an idle conversation flushes incomplete once the
    watermark passes its newest under-cap ts plus EVENT_TIME_GAP_MS, while
    a busy one in the same bucket stays held; rows behind the watermark
    are dropped."""
    gap = streaming.EVENT_TIME_GAP_MS
    t0_ms = T_BUCKET.value // 10**6
    fn = streaming._make_coalesce_fn(None, 2048, event_time=True)
    state = _StubState(wm_ms=t0_ms)
    assert _call(fn, state, _sorted_rows("idle", [0, 1]),
                 _sorted_rows("busy", [0])).empty
    assert state.timeout == t0_ms + gap  # busy's newest turn, at t0
    state.wm_ms = t0_ms + 1000 + gap + 1  # past idle's newest turn + gap
    got = _call(fn, state, _sorted_rows("busy", [1, 2], start_s=120),
                _sorted_rows("idle", [2]))  # idle's turn 2 is late
    assert set(got["conv_id"]) == {"idle"}
    assert got["turn_idx"].tolist() == [0, 1]
    assert not got["complete"].any()
    assert _held(state) == {"busy": 3}
    assert state.timeout == t0_ms + 122_000 + gap
