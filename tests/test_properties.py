"""Hypothesis property tests over the shared single-conversation semantics
(SURVEY.md §5.2): arrival-order invariance, hex slice-split invariance, and
trim monotonicity. Most run on the pure-Python oracle — the engines are
pinned byte-equal to it by tests/test_engines.py — so the properties hold
for the Spark pipeline by transitivity; trim monotonicity drives the
production render kernel (fastkernel.render_conv) directly."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from transcriptpipe import oracle, schemas

BASE = datetime(2026, 4, 1)

WORD = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8)


def _mk_rows(conv_id, texts_roles):
    return [
        {"conv_id": conv_id, "turn_idx": i, "role": role, "text": text,
         "tool": None, "ts": BASE + timedelta(seconds=i)}
        for i, (role, text) in enumerate(texts_roles)
    ]


def _doc(rows, **kw):
    turns = [oracle.parse_turn(r) for r in rows]
    conv = oracle.coalesce_conv(turns)
    return json.dumps(oracle.doc_object(conv, **kw), ensure_ascii=False,
                      separators=(",", ":"))


@given(
    msgs=st.lists(WORD, min_size=1, max_size=8),
    perm=st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_arrival_order_invariance(msgs, perm):
    """Shuffled arrival (list order) must not change the doc — ordering is
    defined by turn_idx alone (A1 coalesce is order-insensitive)."""
    specs = [("system", "msg=hello policy=x")] + [
        ("user" if i % 2 == 0 else "assistant", f"msg={m} seq={i}")
        for i, m in enumerate(msgs)
    ]
    rows = _mk_rows("conv-00000007", specs)
    shuffled = list(rows)
    perm.shuffle(shuffled)
    assert _doc(rows) == _doc(shuffled)


@given(
    arg=st.text(
        alphabet=st.characters(codec="utf-8", exclude_characters='"\\'),
        min_size=1, max_size=24,
    ),
    cutpoints=st.sets(st.integers(min_value=1, max_value=200), max_size=5),
    perm=st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_hex_slice_split_invariance(arg, cutpoints, perm):
    """Any slicing of an arg's bytes into aN[j] hex chunks, delivered in any
    order, reassembles to the same args array (A5 EXECVE semantics,
    ref lib/execve_coll.c:266-429)."""
    b = arg.encode("utf-8")
    cuts = sorted(c for c in cutpoints if c < len(b))
    parts, prev = [], 0
    for c in [*cuts, len(b)]:
        parts.append(b[prev:c].hex().upper())
        prev = c
    tokens = [f"a0_len={len(b)}"] + [f"a0[{j}]={h}" for j, h in enumerate(parts)]
    perm.shuffle(tokens)
    rows = _mk_rows("conv-00000008", [
        ("system", "msg=s"),
        ("tool_call", "msg=c argc=1 " + " ".join(tokens)),
    ])
    d = json.loads(_doc(rows))
    assert d.get("error") is None, d
    assert d["data"]["args"] == [arg]


@given(msgs=st.lists(WORD, min_size=1, max_size=10))
@settings(max_examples=40, deadline=None)
def test_trim_monotonicity(msgs):
    """Smaller byte caps never produce bigger docs, and once trimmed, always
    trimmed at tighter caps (gbtree trim analog) — on the production render
    kernel, fed rows the way the sorted render pass feeds them."""
    from transcriptpipe import fastkernel

    specs = [("system", "msg=hello policy=x")] + [
        ("user", f"msg={m} seq={i}") for i, m in enumerate(msgs)
    ]
    rows = [(r["turn_idx"], r["role"], r["text"], None, None)
            for r in _mk_rows("conv-00000009", specs)]
    sizes, trims = [], []
    for cap in (10_000, 400, 220, 120, 60):
        rec = fastkernel.render_conv("conv-00000009", rows, BASE, False, cap, 100)
        assert rec is not None
        sizes.append(len(rec["doc"].encode()))
        trims.append(rec["trimmed"])
    for a, b in zip(sizes, sizes[1:]):
        assert b <= max(a, 10_000)
    # trimmed flag is monotone in cap tightness
    assert trims == sorted(trims)


@given(
    role=st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz_",
                 min_size=1, max_size=10).filter(
        lambda r: r not in schemas.COLLECTORS and r.lower() not in schemas.COLLECTORS
    ),
)
@settings(max_examples=30, deadline=None)
def test_catch_all_single_instance_ok_repeat_errors(role):
    """Property form of the dispatcher catch-all: one instance of any
    unregistered role lands in data under its lowercased name; two error."""
    one = _mk_rows("conv-00000011", [("system", "msg=s"), (role, "msg=x k=1")])
    d = json.loads(_doc(one))
    assert d["data"][role.lower()] == {"msg": ["x"], "k": ["1"]}
    two = _mk_rows("conv-00000011", [
        ("system", "msg=s"), (role, "msg=x"), (role, "msg=y"),
    ])
    d2 = json.loads(_doc(two))
    assert d2["error"] == schemas.ERR_REPEATED_RECORD
    assert "data" not in d2


@given(
    docs=st.lists(st.text(alphabet="abcdef0123456789", min_size=1, max_size=40),
                  min_size=1, max_size=30),
    budget=st.integers(min_value=1, max_value=200),
)
@settings(max_examples=60, deadline=None)
def test_pack_greedy_properties(docs, budget):
    """Byte-budget packing (conv.c:122-155 counter semantics): order
    preserved, nothing dropped or split, every doc except the last closed at
    >= budget accumulated bytes."""
    from transcriptpipe.docbatch import pack_greedy

    groups = pack_greedy(docs, budget, sep_len=1)
    flat = [i for g in groups for i in g]
    assert flat == list(range(len(docs)))  # order, completeness, no split
    for g in groups[:-1]:
        acc = sum(len(docs[i].encode()) for i in g) + (len(g) - 1)
        assert acc >= budget


@given(
    texts=st.lists(st.one_of(st.none(), st.text(max_size=30)), min_size=0,
                   max_size=12),
    budget=st.integers(min_value=0, max_value=400),
)
@settings(max_examples=80, deadline=None)
def test_max_text_lines_is_tight(texts, budget):
    """The per-line trim keeps the maximal prefix: k lines fit the budget,
    k+1 would not (exact member-cost arithmetic)."""
    k = oracle.max_text_lines(texts, budget)

    def cost(n):
        return 9 + sum(
            (4 if t is None else len(json.dumps(t, ensure_ascii=False).encode()))
            + 1
            for t in texts[:n]
        )

    if k > 0:
        assert cost(k) <= budget
    if k < len(texts):
        assert cost(k + 1) > budget


# ---------------------------------------------------------------------------
# fastkernel <-> oracle equivalence over randomized grammar (round 3): the
# fused kernel must agree with the boring oracle path for ARBITRARY token
# streams, roles, quoting, hex payloads, and trim budgets — not only the
# synth fixtures.

_TOKEN_KEY = st.one_of(
    st.sampled_from(["msg", "seq", "hex", "item", "argc", "a0", "a1",
                     "a0_len", "a0[0]", "a0[1]", "policy"]),
    WORD,
)
_TOKEN_VAL = st.one_of(
    WORD,
    st.sampled_from(["41", "4142", "ZZ", "0", "1", "2", '"a b"',
                     '"q\\"x"', '"\\\\"', "C3A9", "414"]),
    st.text(min_size=1, max_size=10).filter(lambda s: not s.isspace()),
)
_ROLE = st.sampled_from(["user", "assistant", "system", "tool_call",
                         "tool_result", "EOE", "Narrator", "narrator",
                         "System", "Args"])
_TEXT = st.one_of(
    st.none(),
    st.just(""),
    st.just("   "),
    st.just(";;; no tokens here ;;;"),
    st.lists(
        st.tuples(_TOKEN_KEY, _TOKEN_VAL), min_size=0, max_size=5
    ).map(lambda kvs: " ".join(f"{k}={v}" for k, v in kvs)),
)


@given(
    rows=st.lists(st.tuples(_ROLE, _TEXT, st.sampled_from([None, "T01", "T99"])),
                  min_size=1, max_size=10),
    cap=st.sampled_from([None, 60, 200, 8192]),
    with_text=st.booleans(),
    with_norm=st.booleans(),
    capped=st.booleans(),
)
@settings(max_examples=250, deadline=None)
def test_fastkernel_equals_oracle_property(rows, cap, with_text, with_norm,
                                           capped):
    from tests.test_fastkernel import oracle_render
    from transcriptpipe import fastkernel

    tool_map = oracle.TOOL_MAP
    tup = [
        (i, role, text, tool, tool_map.get(tool) if tool else None)
        for i, (role, text, tool) in enumerate(rows)
    ]
    want = oracle_render("conv-00000077", tup, BASE, capped, cap, 100,
                         with_text, with_norm)
    got = fastkernel.render_conv("conv-00000077", tup, BASE, capped, cap, 100,
                                 with_text, with_norm)
    assert (want is None) == (got is None)
    if want is not None:
        assert got == want
