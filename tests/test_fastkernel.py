"""Direct fastkernel-vs-oracle byte-equality — no Spark, runs in seconds.

The fused kernel (fastkernel.render_conv) must produce byte-identical docs,
XML, and error envelopes to the boring single-process reference path
(oracle.parse_turn → coalesce_conv → doc_object → render.xml_from_doc) for
every config knob and the grammar's edge cases. The Spark-level engine
matrix pins the same equality end-to-end; this one localizes failures."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from transcriptpipe import fastkernel, oracle, render, synth


def oracle_render(conv_id, rows, min_ts, capped, max_doc_bytes, events_per_doc,
                  with_text, with_norm):
    """The pre-round-3 kernel path, verbatim: ParsedTurn + coalesce_conv +
    doc_object + trim cascade + xml_from_doc, driven purely through
    oracle.py."""
    turns = [
        oracle.ParsedTurn(
            conv_id=conv_id, turn_idx=r[0],
            role=r[1], text=r[2], tool=r[3], tool_name=r[4], ts=min_ts,
            **dict(zip(("keys", "vals", "fields", "item_idx", "row_error"),
                       oracle.parse_text(r[2] or ""))),
        )
        for r in rows
    ]
    for t, r in zip(turns, rows):
        if t.row_error is None and r[3] is not None and r[4] is None:
            t.row_error = oracle.schemas.ERR_UNKNOWN_TOOL
    conv = oracle.coalesce_conv(turns)
    if conv["n_records"] == 0 and conv["error"] is None:
        return None
    last = [None]

    def dump(text, norm, data, trimmed, text_lines=None):
        obj = oracle.doc_object(conv, with_text=with_text,
                                with_norm=norm and with_norm)
        if not text:
            obj.pop("text", None)
        elif text_lines is not None and "text" in obj:
            obj["text"] = obj["text"][:text_lines]
        if not data:
            obj.pop("data", None)
        if trimmed:
            obj["trimmed"] = True
        last[0] = obj
        return json.dumps(obj, ensure_ascii=False, separators=(",", ":"))

    full = dump(True, True, True, False)
    trimmed = bool(capped)
    doc = full
    if max_doc_bytes is not None and len(full.encode()) > max_doc_bytes:
        trimmed = True
        k = oracle.max_text_lines(
            conv["texts"], max_doc_bytes - len(dump(False, True, True, True).encode())
        ) if (with_text or conv["error"]) else 0
        if k > 0:
            doc = dump(True, True, True, True, text_lines=k)
        else:
            for v in ((False, True, True), (False, False, True), (False, False, False)):
                doc = dump(*v, True)
                if len(doc.encode()) <= max_doc_bytes:
                    break
    return {
        "conv_id": conv_id,
        "doc_id": conv["serial"] // events_per_doc if conv["serial"] is not None else None,
        "serial": conv["serial"], "time": oracle.iso_time(min_ts),
        "n_turns": conv["n_turns"], "doc": doc,
        "xml": render.xml_from_doc(last[0]), "trimmed": trimmed,
        "error": conv["error"],
        "row_errs": [(t.turn_idx, t.row_error, t.text) for t in turns if t.row_error],
    }


def conv_cases():
    """Synth corpus (every malformed kind + unknown tools + hot conv) plus
    hand-built edge cases the grammar can't hit."""
    df = synth.gen_transcripts(n_convs=60, seed=11, malformed_frac=0.15,
                               unknown_tool_frac=0.08, hot_frac=0.05,
                               hot_turns=40)
    convs = {}
    for r in df.itertuples(index=False):
        role = oracle.ROLE_MAP.get(r.role, r.role)
        tool_name = oracle.TOOL_MAP.get(r.tool) if r.tool else None
        convs.setdefault(r.conv_id, []).append(
            (r.turn_idx, role, r.text, r.tool, tool_name, r.ts))
    base = synth.BASE_TS
    # edge cases: no-digit conv_id (null serial), catch-all roles incl.
    # reserved-name collisions and repeats, argc=0 (args == []), None/empty
    # text, unicode + XML-hostile values, slot without item=
    convs["no-digits-here"] = [(0, "user", 'msg="hello"', None, None, base)]
    convs["conv-333"] = [
        (0, "narrator", 'msg="unregistered role"', None, None, base),
        (1, "user", 'msg="hi"', None, None, base),
        (2, "Args", 'msg="reserved-name collision"', None, None, base),
        (3, "EOE", "", None, None, base),
    ]
    convs["conv-334"] = [
        (0, "narrator", "msg=a", None, None, base),
        (1, "narrator", "msg=b", None, None, base),  # repeat -> REPEATED_RECORD
    ]
    convs["conv-335"] = [(0, "tool_call", "argc=0", "T01", "tool_1", base)]
    convs["conv-336"] = [
        (0, "user", None, None, None, base),
        (1, "assistant", "", None, None, base),
        (2, "user", 'msg="ünïcödé ✓ <tag> & \\"q\\"" hex=C3A9', None, None, base),
    ]
    convs["conv-337"] = [(0, "tool_result", 'msg="no item token"', None, None, base)]
    convs["conv-338"] = [
        (0, "system", "policy=standard", None, None, base),
        (1, "System", 'msg="case-collides with registered uniq"', None, None, base),
    ]
    return convs


CONFIGS = [
    dict(max_doc_bytes=8192, with_text=True, with_norm=False),
    dict(max_doc_bytes=8192, with_text=True, with_norm=True),
    dict(max_doc_bytes=8192, with_text=False, with_norm=False),
    dict(max_doc_bytes=220, with_text=True, with_norm=True),   # per-line trim
    dict(max_doc_bytes=60, with_text=True, with_norm=False),   # envelope-only
    dict(max_doc_bytes=None, with_text=True, with_norm=False),
]


@pytest.mark.parametrize("cfg", CONFIGS, ids=[str(c) for c in CONFIGS])
@pytest.mark.parametrize("capped", [False, True])
def test_fastkernel_matches_oracle(cfg, capped):
    convs = conv_cases()
    n_docs = 0
    for conv_id, rows in convs.items():
        rows = sorted(rows, key=lambda r: r[0])
        min_ts = min(r[5] for r in rows)
        tup = [r[:5] for r in rows]
        want = oracle_render(conv_id, tup, min_ts, capped,
                             cfg["max_doc_bytes"], 100,
                             cfg["with_text"], cfg["with_norm"])
        got = fastkernel.render_conv(conv_id, tup, min_ts, capped,
                                     cfg["max_doc_bytes"], 100,
                                     cfg["with_text"], cfg["with_norm"])
        assert (want is None) == (got is None), conv_id
        if want is None:
            continue
        n_docs += 1
        for k in want:
            assert got[k] == want[k], (conv_id, k, want[k], got[k])
        # pre-escaped line fragments must not change a byte
        texts = pd.Series([r[2] for r in rows], dtype=object)
        frags = fastkernel.xml_lines_vectorized(texts)
        got2 = fastkernel.render_conv(conv_id, tup, min_ts, capped,
                                      cfg["max_doc_bytes"], 100,
                                      cfg["with_text"], cfg["with_norm"],
                                      xml_line_frags=frags)
        assert got2 == got, conv_id
    assert n_docs > 50  # the corpus is non-trivial


def test_want_xml_false_skips_xml():
    rows = [(0, "user", 'msg="hi"', None, None)]
    rec = fastkernel.render_conv("conv-1", rows, synth.BASE_TS, False,
                                 8192, 100, want_xml=False)
    assert rec["xml"] is None and '"msg":["hi"]' in rec["doc"]
