"""The render engines (fused Arrow kernel "arrow", all-JVM relational
"sql") must produce identical sink contents byte-for-byte; unknown engine
names are rejected; the default plan keeps its one-exchange shape."""

from __future__ import annotations

import json
import re

import pytest

from transcriptpipe import pipeline


def _collect(spark, df, conf):
    sinks = pipeline.build(spark, df, conf)
    jd = {r["conv_id"]: r for r in sinks["json_doc"].collect()}
    xml = {r["conv_id"]: r["doc"] for r in sinks["xml_doc"].collect()}
    err = sorted(
        (r["conv_id"], r["turn_idx"], r["error_code"], r["text"])
        for r in sinks["error"].collect()
    )
    return jd, xml, err


CONFIGS = [
    # (max_doc_bytes, with_text, with_norm)
    (None, True, False),
    (600, True, False),
    (None, False, False),   # P5 suppression (text must survive on errors)
    (None, True, True),     # norm section
    (600, False, True),     # trim cascade through the norm level
    (220, True, True),      # per-line partial trim with norm present
    (60, True, False),      # envelope-only degenerate budget
]


def test_all_engines_agree(spark, tiny_df):
    for max_bytes, with_text, with_norm in CONFIGS:
        mk = lambda eng: pipeline.PipeConf(  # noqa: E731
            engine=eng, max_doc_bytes=max_bytes,
            with_text=with_text, with_norm=with_norm,
        )
        a_jd, a_xml, a_err = _collect(spark, tiny_df, mk("arrow"))
        e_jd, e_xml, e_err = _collect(spark, tiny_df, mk("sql"))
        key = (max_bytes, with_text, with_norm)
        assert set(a_jd) == set(e_jd), key
        for cid in a_jd:
            for k in ("doc_id", "serial", "time", "n_turns", "trimmed", "error"):
                assert a_jd[cid][k] == e_jd[cid][k], (cid, k, key)
            assert json.loads(a_jd[cid]["doc"]) == json.loads(e_jd[cid]["doc"]), (cid, key)
            assert a_jd[cid]["doc"] == e_jd[cid]["doc"], (cid, key)
            assert a_xml[cid] == e_xml[cid], (cid, key)
        assert a_err == e_err, key


@pytest.mark.parametrize("engine", ["Arrow", "expr", "arrow_agg", ""])
def test_unknown_engine_raises(spark, tiny_df, engine):
    with pytest.raises(ValueError, match="unknown engine"):
        pipeline.build(spark, tiny_df, pipeline.PipeConf(engine=engine))


def test_default_plan_one_exchange_broadcast_dicts(spark, tiny_df):
    """The default json_doc plan shuffles the fact table exactly once (the
    conv_id exchange) and joins both dictionaries by broadcast."""
    jd = pipeline.build(spark, tiny_df)["json_doc"]
    plan = jd._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange hashpartitioning\(conv_id#\d+", plan)) == 1, plan
    assert len(re.findall(r"(?<!Broadcast)Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"BroadcastHashJoin\b", plan)) == 2, plan
    assert re.search(r"BroadcastHashJoin \[role#\d+\], \[role_code#\d+\]", plan), plan
    assert re.search(r"BroadcastHashJoin \[tool#\d+\], \[tool_code#\d+\]", plan), plan


def test_rendered_frame_extends_jvm_stage_frame(spark, tiny_df):
    """rendered_frame is the render layer on top of exactly the
    jvm_stage_frame prefix (enrich → exchange), so timing the prefix times
    the production plan."""
    def norm(plan) -> str:
        return re.sub(r"#\d+", "#", plan.treeString())

    rendered = pipeline.rendered_frame(spark, tiny_df)._jdf.queryExecution().optimizedPlan()
    stage = pipeline.jvm_stage_frame(spark, tiny_df)._jdf.queryExecution().optimizedPlan()
    assert rendered.nodeName() == "MapInPandas"
    assert norm(rendered.children().apply(0)) == norm(stage)
