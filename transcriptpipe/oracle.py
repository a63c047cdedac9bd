"""Single-process reference oracle (SURVEY.md §5.2.2).

A deliberately boring pure-Python implementation of the same
parse → enrich → coalesce → route semantics, mirroring the reference's
one-pass-per-event model (aushape touches each event once, in order —
/root/reference/lib/conv.c:72-173). Tests compare the Spark pipeline's output
to this row-for-row; it stands in for auparse/aushape as the independent
implementation.

No Spark imports here — dicts/lists/regex only.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from . import schemas, synth

TOKEN_RE = re.compile(r'([A-Za-z_][A-Za-z0-9_]*(?:\[\d+\])?)=("(?:[^"\\]|\\.)*"|\S+)')
ARG_KEY_RE = re.compile(r"^a(\d+)(?:(_len)|\[(\d+)\])?$")
UNESCAPE_RE = re.compile(r"\\(.)")

ROLE_MAP = {r["role_code"]: r["role_name"] for r in synth.role_dict_rows()}
TOOL_MAP = {t["tool_code"]: t["tool_name"] for t in synth.tool_dict_rows()}


def unquote(v: str) -> str:
    if len(v) >= 2 and v.startswith('"') and v.endswith('"'):
        body = v[1:-1]
        if "\\" not in body:  # fast path: no escapes to fold
            return body
        return UNESCAPE_RE.sub(r"\1", body)
    return v


def decode_hex(v: str) -> str | None:
    if len(v) % 2 != 0:
        return None
    try:
        return bytes.fromhex(v).decode("utf-8", errors="replace")
    except ValueError:
        return None


def try_int(v: str) -> int | None:
    """Strict nonneg int parse — the SAME acceptance grammar as the
    Catalyst side's parse.strict_int (rlike ^[0-9]+$ + try_cast int): a
    bare int() here would accept '1_0', '+5', ' 5 ' and unicode digits that
    Spark rejects, diverging the engines on adversarial input (ADVICE r3).
    int32 overflow → None, matching try_cast('int')."""
    if not isinstance(v, str) or not v.isascii() or not v.isdigit():
        return None
    n = int(v)
    return n if n <= 2147483647 else None


@dataclass
class ParsedTurn:
    conv_id: str
    turn_idx: int
    role: str          # canonical after enrichment
    text: str
    tool: str | None
    tool_name: str | None
    ts: object
    keys: list = field(default_factory=list)
    vals: list = field(default_factory=list)
    fields: dict = field(default_factory=dict)  # key -> [interpreted, raw?]
    item_idx: int | None = None
    row_error: str | None = None


def parse_text(text: str):
    """Tokenize one turn's text. Returns (keys, vals, fields, item_idx,
    text_error) — the pure F5-F7/F9 part, shared by parse_turn and the
    Arrow fast path (arrow_docs)."""
    keys, vals = [], []
    for m in TOKEN_RE.finditer(text):
        keys.append(m.group(1))
        vals.append(unquote(m.group(2)))
    fields = {}
    for k, v in zip(keys, vals):
        if k == "hex":
            d = decode_hex(v)
            fields[k] = [v] if d is None else [d, v]
        else:
            fields[k] = [v]
    kv = dict(zip(keys, vals))
    text_error = None
    if not keys and text.strip():
        text_error = schemas.ERR_PARSE_FAIL
    elif "hex" in kv and decode_hex(kv["hex"]) is None:
        text_error = schemas.ERR_INVALID_HEX
    return keys, vals, fields, try_int(kv.get("item")), text_error


def parse_turn(row: dict) -> ParsedTurn:
    text = row["text"] or ""
    keys, vals, fields, item_idx, row_error = parse_text(text)

    role = ROLE_MAP.get(row["role"], row["role"])
    tool = row.get("tool")
    tool_name = TOOL_MAP.get(tool) if tool else None
    if row_error is None and tool is not None and tool_name is None:
        row_error = schemas.ERR_UNKNOWN_TOOL
    return ParsedTurn(
        conv_id=row["conv_id"], turn_idx=row["turn_idx"], role=role,
        text=text, tool=tool, tool_name=tool_name, ts=row["ts"],
        keys=keys, vals=vals, fields=fields,
        item_idx=item_idx, row_error=row_error,
    )


def reassemble_args(turns: list[ParsedTurn]):
    """EXECVE argument reassembly (ref lib/execve_coll.c) — the rules
    fastkernel._reassemble and relational._attach_args implement. Returns
    (args|None, error|None, seen)."""
    whole: dict[int, list[str]] = {}
    lens: dict[int, list[int | None]] = {}
    slices: dict[int, list[tuple[int, str]]] = {}
    argc_vals: list[int | None] = []
    seen_any = False
    for t in turns:
        if t.role != "tool_call":
            continue
        # per-turn LAST_WIN dedup matches the parse stage's map semantics
        for k, v in dict(zip(t.keys, t.vals)).items():
            if k == "argc":
                argc_vals.append(try_int(v))
                seen_any = True
                continue
            m = ARG_KEY_RE.match(k)
            if not m:
                continue
            seen_any = True
            idx = int(m.group(1))
            if m.group(2):  # _len
                lens.setdefault(idx, []).append(try_int(v))
            elif m.group(3) is not None:  # slice
                slices.setdefault(idx, []).append((int(m.group(3)), v))
            else:
                whole.setdefault(idx, []).append(v)
    if not seen_any:
        return None, None, False

    all_idxs = sorted(set(whole) | set(lens) | set(slices))
    args, any_bad = [], False
    for idx in all_idxs:
        w = whole.get(idx, [])
        sl = sorted(slices.get(idx, []))
        decl = max((x for x in lens.get(idx, []) if x is not None), default=None)
        if len(w) == 1 and not sl and decl is None:
            args.append(max(w))
            continue
        if not w and sl:
            idxs = [i for i, _ in sl]
            solid = idxs == list(range(len(sl)))
            decoded = decode_hex("".join(v for _, v in sl))
            ok = (
                solid
                and decoded is not None
                and (decl is None or len(decoded.encode("utf-8")) == decl)
            )
            args.append(decoded)
            if not ok:
                any_bad = True
            continue
        args.append(max(w) if w else None)
        any_bad = True

    argc_decl = max((x for x in argc_vals if x is not None), default=None)
    solid = all_idxs == list(range(len(all_idxs)))
    argc_ok = argc_decl is None or argc_decl == len(all_idxs)
    if solid and not any_bad and argc_ok:
        return args, None, True
    return None, schemas.ERR_INVALID_EXECVE, True


def _collector_of(role: str) -> str:
    return schemas.COLLECTORS.get(role, schemas.CATCH_ALL)


def norm_object(conv_id: str, serial: int | None, turns: list[ParsedTurn],
                args, tools: list[str]) -> dict:
    """The normalization section (--with-norm analog): a per-event normalized
    summary mirroring the auparse_normalize field table the reference renders
    (/root/reference/lib/conv_buf.c:185-353 — event_kind / session / subject /
    action / object / result / how / key), re-derived from the transcript
    domain. Fields are omitted when absent, like the reference's META/POS
    fields that auparse reports as missing."""
    users = [t for t in turns if t.role == "user"]
    tool_calls = [t for t in turns if t.role == "tool_call"]
    sys_turns = [t for t in turns if t.role == "system"]
    results = [t for t in turns if _collector_of(t.role) == schemas.COLL_SLOT]

    def msg_of(t: ParsedTurn):
        v = t.fields.get("msg")
        return v[0] if v else None

    norm = {
        "event_kind": "tool_use" if tool_calls else "dialogue",
        "session": serial,
        "subject_kind": "user" if users else (turns[0].role if turns else None),
        "subject_primary": msg_of(users[0]) if users else None,
        "subject_secondary": msg_of(users[-1]) if len(users) >= 2 else None,
        "subject_attrs": list(sys_turns[0].fields.keys()) if len(sys_turns) == 1 else None,
        "action": "call" if tool_calls else "converse",
        "object_kind": "tool_args" if args else None,
        "object_primary": args[0] if args else None,
        "object_secondary": args[1] if args and len(args) > 1 else None,
        "object_primary2": args[2] if args and len(args) > 2 else None,
        "object_attrs": args[3:] if args and len(args) > 3 else None,
        "result": len(results),
        "how": tools[0] if tools else None,
        "key": conv_id,
    }
    return {k: v for k, v in norm.items() if v is not None and v != []}


def coalesce_conv(turns: list[ParsedTurn]) -> dict:
    """Coalesce one conversation's parsed turns into its event (collectors,
    validation, serial) — what each render engine computes per conv_id."""
    turns = sorted(turns, key=lambda t: t.turn_idx)
    texts = [t.text for t in turns]
    min_ts = min(t.ts for t in turns)

    # add-time errors: earliest (turn, code). REPEATED_RECORD fires at the
    # 2nd occurrence of ANY uniq-collected role — registered (system) or
    # catch-all (unknown roles route to uniq, ref lib/conv_buf.c:86-90,
    # disp_coll.c:191-228).
    add_errs = [(t.turn_idx, t.row_error) for t in turns if t.row_error]
    uniq_seen: set[str] = set()
    for t in turns:
        if _collector_of(t.role) != schemas.COLL_UNIQ:
            continue
        # unknown roles dedupe on their lowercased (data-section) name,
        # matching the reference lowercasing record type names
        key = t.role if t.role in schemas.COLLECTORS else t.role.lower()
        if key in uniq_seen:
            add_errs.append((t.turn_idx, schemas.ERR_REPEATED_RECORD))
        uniq_seen.add(key)
    add_err = min(add_errs)[1] if add_errs else None

    sys_turns = [t for t in turns if t.role == "system"]

    args, execve_err, _ = reassemble_args(turns)

    results = sorted(
        (t for t in turns if _collector_of(t.role) == schemas.COLL_SLOT),
        key=lambda t: (t.item_idx is None, t.item_idx if t.item_idx is not None else 0),
    )
    item_idxs = [t.item_idx for t in results]
    path_ok = not results or (
        all(i is not None for i in item_idxs)
        and sorted(item_idxs) == list(range(len(results)))
    )
    path_err = None if path_ok else schemas.ERR_INVALID_PATH

    error = add_err or execve_err or path_err

    tools, seen = [], set()
    for t in turns:
        if t.tool_name and t.tool_name not in seen:
            seen.add(t.tool_name)
            tools.append(t.tool_name)

    data = None
    if error is None:
        data = {}
        for role, coll in schemas.COLLECTORS.items():
            if coll == schemas.COLL_UNIQ:
                mine = [t for t in turns if t.role == role]
                data[role] = mine[0].fields if len(mine) == 1 else None
            elif coll == schemas.COLL_REP:
                data[role] = [t.fields for t in turns if t.role == role] or None
            elif coll == schemas.COLL_SLOT:
                data[role] = [t.fields for t in results if t.role == role] or None
            # drop: nothing
        data["args"] = args
        data["tools"] = tools or None
        # catch-all: unregistered roles appended at the end of data{} under
        # their lowercased name, first-appearance order (a repeat latched
        # REPEATED_RECORD above, so at most one instance reaches here);
        # lowercased names colliding with a registered role are excluded
        for t in turns:
            if t.role not in schemas.COLLECTORS:
                key = t.role.lower()
                if key not in schemas.COLLECTORS and key not in data:
                    data[key] = t.fields

    # a "record" is a turn that contributed parsed fields; a conversation
    # with zero records and no errors emits nothing (P2 empty-event drop,
    # ref lib/conv_buf.c:570-574)
    n_records = sum(1 for t in turns if t.keys)

    serial_m = re.search(r"(\d+)$", turns[0].conv_id)
    serial = int(serial_m.group(1)) if serial_m else None

    return {
        "conv_id": turns[0].conv_id,
        "serial": serial,
        "min_ts": min_ts,
        "n_turns": len(turns),
        "n_records": n_records,
        "texts": texts,
        "data": data,
        "error": error,
        "norm": norm_object(turns[0].conv_id, serial, turns, args, tools),
    }


def max_text_lines(texts: list, budget: int) -> int:
    """Largest k such that inserting ``"text":[first k lines]`` into a doc
    costs <= ``budget`` extra bytes (budget = cap - bytes of the doc without
    the text member). Member cost = 1 comma + '"text":[' + lines joined by
    commas + ']' = 9 + sum(escaped_len_i + 1). Shared by the Arrow engine
    and mirrored in Catalyst (render._partial_text_k) — the per-line
    proportional trim (ref lib/gbtree.c:468-553: text lines are the
    non-atomic children dropped individually, last line first)."""
    used, k = 9, 0
    for line in texts:
        esc = 4 if line is None else len(
            json.dumps(line, ensure_ascii=False).encode("utf-8")
        )
        if used + esc + 1 > budget:
            break
        used += esc + 1
        k += 1
    return k


def iso_time(ts) -> str:
    # mirrors date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX") under UTC
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def doc_object(conv: dict, with_text: bool = True, with_norm: bool = False) -> dict:
    """The event document as a plain dict (semantic comparison target).

    ``with_text=False`` still keeps text when the event carries an error —
    the reference voids the text node only when no error occurred
    (lib/conv_buf.c:663-667). ``with_norm`` appends the normalization
    section after data (attached at lib/conv_buf.c:446-457)."""
    doc = {
        "serial": conv["serial"],
        "time": iso_time(conv["min_ts"]),
    }
    if with_text or conv["error"]:
        doc["text"] = conv["texts"]
    if conv["data"] is not None:
        doc["data"] = {k: v for k, v in conv["data"].items() if v is not None}
    if with_norm and conv.get("norm"):
        doc["norm"] = conv["norm"]
    if conv["error"]:
        doc["error"] = conv["error"]
    return doc


def run_pipeline(rows: list[dict], max_turns_per_conv: int = 2048,
                 events_per_doc: int = 100, with_text: bool = True,
                 with_norm: bool = False) -> dict:
    """Full oracle run. Returns {json_doc: [...], error: [...], raw: [...],
    counts: {...}} with the same sink semantics as pipeline.build."""
    convs: dict[str, list[dict]] = {}
    for r in rows:
        convs.setdefault(r["conv_id"], []).append(r)

    json_docs, errors = [], []
    for conv_id in sorted(convs):
        crows = sorted(convs[conv_id], key=lambda r: r["turn_idx"])
        capped = any(r["turn_idx"] >= max_turns_per_conv for r in crows)
        crows = [r for r in crows if r["turn_idx"] < max_turns_per_conv]
        if not crows:
            continue  # only beyond-cap turns: nothing to coalesce, no doc
        turns = [parse_turn(r) for r in crows]
        conv = coalesce_conv(turns)
        if conv["n_records"] == 0 and conv["error"] is None and not any(
            t.row_error for t in turns
        ):
            continue  # P2 empty-event drop (conv_buf.c:570-574)
        doc = doc_object(conv, with_text=with_text, with_norm=with_norm)
        json_docs.append({
            "conv_id": conv_id,
            "doc_id": (conv["serial"] // events_per_doc
                       if conv["serial"] is not None else None),
            "serial": conv["serial"],
            "time": doc["time"],
            "n_turns": conv["n_turns"],
            "doc": json.dumps(doc, ensure_ascii=False, separators=(",", ":")),
            "trimmed": capped,
            "error": conv["error"],
        })
        for t in turns:
            if t.row_error:
                errors.append({
                    "conv_id": conv_id, "turn_idx": t.turn_idx,
                    "error_code": t.row_error, "text": t.text,
                })
        if conv["error"] in (schemas.ERR_REPEATED_RECORD,
                             schemas.ERR_INVALID_EXECVE,
                             schemas.ERR_INVALID_PATH):
            errors.append({
                "conv_id": conv_id, "turn_idx": None,
                "error_code": conv["error"], "text": None,
            })

    return {
        "json_doc": json_docs,
        "error": errors,
        "raw": rows,
        "counts": {
            "json_doc": len(json_docs),
            "xml_doc": len(json_docs),
            "error": len(errors),
            "raw": len(rows),
        },
    }
