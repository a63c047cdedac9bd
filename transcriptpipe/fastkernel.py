"""Fused per-conversation render kernel — the fast path inside the Arrow
mapInPandas stage.

Round-2 profile of the previous per-conversation kernel (185k turns):
~36% tokenize + ParsedTurn dataclass construction, ~27% XML rendering, ~20%
coalesce_conv (multi-pass list comprehensions, norm computed even when
``with_norm=False``, iso_time strftime called twice per doc). This module
fuses parse → collect → validate → render into ONE loop over a
conversation's turns with no intermediate per-turn objects:

* tokenizer: one ``TOKEN_RE.findall`` C call per turn (tuples out), inlined
  unquote fast path, and NO separate kv dict (the fields map is already
  last-win; the only key where interpreted != raw is ``hex``, which no
  consumer of the raw view reads)
* collector dispatch, uniq-dup detection, arg-token collection, slot
  collection, tool dedup, row errors — all in the same loop
* per-turn XML field fragments are built IN the token loop (value escaped
  once, name prefix memoized) and the final document XML is a flat join of
  fragments — no dict re-iteration, no per-field function calls; text-line
  fragments are pre-escaped VECTORIZED over the whole Arrow batch by the
  caller (xml_lines_vectorized: one pandas contains() scan + one concat)
* norm section computed only when ``with_norm`` is on
* one ISO-8601 format per doc (f-string, not strftime)
* one ``json.dumps`` on the common (not oversized) path, and the fit check
  skips the utf-8 encode entirely for ASCII docs (chars == bytes); the trim
  cascade re-dumps only the oversized minority

Semantics are pinned byte-equal to the boring reference implementation in
``oracle.py`` (which stays untouched as the verification path): the
arrow-vs-sql byte-equality test, the golden corpus, and
``test_fastkernel.py`` (direct fastkernel-vs-oracle comparison over every
fixture config) all assert it.

Reference parity: this is the same one-pass-per-record model as aushape's
conv_buf (each record touched once, collectors dispatch by type —
/root/reference/lib/conv_buf.c:355-709, lib/disp_coll.c), with the per-event
trim of lib/gbtree.c:468-606 applied at render time.
"""

from __future__ import annotations

import json
import re as _re

from . import schemas
from .oracle import ARG_KEY_RE, TOKEN_RE, UNESCAPE_RE, decode_hex, try_int
from .render import _XML_NEEDS_ESCAPE, _xml_name, xml_escape_str

_REPEATED = schemas.ERR_REPEATED_RECORD
_PARSE_FAIL = schemas.ERR_PARSE_FAIL
_INVALID_HEX = schemas.ERR_INVALID_HEX
_UNKNOWN_TOOL = schemas.ERR_UNKNOWN_TOOL
_INVALID_EXECVE = schemas.ERR_INVALID_EXECVE
_INVALID_PATH = schemas.ERR_INVALID_PATH

_COLLECTORS = schemas.COLLECTORS
_UNIQ = schemas.COLL_UNIQ
_REP = schemas.COLL_REP
_SLOT = schemas.COLL_SLOT
_DROP = schemas.COLL_DROP
# data keys the oracle's dict ALWAYS contains (possibly None-valued) before
# the catch-all splice — a catch-all role lowercasing to one of these is
# excluded exactly like a registered-role collision (oracle.coalesce_conv)
_RESERVED_DATA_KEYS = frozenset(
    [r for r, c in _COLLECTORS.items() if c != _DROP] + ["args", "tools"]
)
_REP_ROLES = tuple(schemas.REP_ROLES)
_SLOT_ROLE = schemas.SLOT_ROLE
_SLOT_OPEN, _SLOT_CLOSE = f"<{_SLOT_ROLE}>", f"</{_SLOT_ROLE}>"
_REP_TAGS = {r: (f"<{r}>", f"</{r}>") for r in _REP_ROLES}

_SERIAL_SEARCH = _re.compile(r"(\d+)$").search

# memoized '<f name="…"><v>' prefixes — token keys come from a grammar so
# they repeat massively; the cap bounds adversarial inputs
_FPREF_CACHE: dict[str, str] = {}


# ---- manual JSON string escaping, byte-equal to
# json.dumps(s, ensure_ascii=False): only '"', '\\' and C0 controls escape
# (short forms \b \t \n \f \r, else \u00xx lowercase); everything else —
# including non-ASCII and \x7f — passes through raw. The fast path is one
# C-level regex scan (the overwhelming majority of values are clean).
_JESC_RE = _re.compile(r'["\\\x00-\x1f]')
_JSHORT = {'"': '\\"', "\\": "\\\\", "\n": "\\n", "\t": "\\t",
           "\r": "\\r", "\b": "\\b", "\f": "\\f"}


def _jsub(m) -> str:
    c = m.group(0)
    s = _JSHORT.get(c)
    return s if s is not None else f"\\u{ord(c):04x}"


def json_str(s: str, _srch=_JESC_RE.search, _sub=_JESC_RE.sub) -> str:
    if _srch(s) is None:
        return f'"{s}"'
    return f'"{_sub(_jsub, s)}"'


def _fpref(k: str) -> str:
    p = _FPREF_CACHE.get(k)
    if p is None:
        p = f'<f name="{xml_escape_str(k)}"><v>'
        if len(_FPREF_CACHE) < 4096:
            _FPREF_CACHE[k] = p
    return p


def _iso_time(ts) -> str:
    """Byte-equal to oracle.iso_time, without strftime (measured ~6x)."""
    return (
        f"{ts.year:04d}-{ts.month:02d}-{ts.day:02d}"
        f"T{ts.hour:02d}:{ts.minute:02d}:{ts.second:02d}"
        f".{ts.microsecond // 1000:03d}Z"
    )


def _reassemble(whole, lens, slices, argc_vals):
    """Tail of oracle.reassemble_args over the pre-collected token maps:
    returns (args|None, error|None). Caller guarantees at least one arg/argc
    token was seen."""
    all_idxs = sorted(set(whole) | set(lens) | set(slices))
    args, any_bad = [], False
    for idx in all_idxs:
        w = whole.get(idx, ())
        sl = slices.get(idx)
        decl_list = lens.get(idx)
        decl = (
            max((x for x in decl_list if x is not None), default=None)
            if decl_list
            else None
        )
        if len(w) == 1 and not sl and decl is None:
            args.append(w[0])
            continue
        if not w and sl:
            sl = sorted(sl)
            solid = True
            for i, (si, _) in enumerate(sl):
                if si != i:
                    solid = False
                    break
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
        return args, None
    return None, _INVALID_EXECVE


def xml_lines_vectorized(text_series):
    """Pre-escape a whole Arrow batch's text column into ``<line>…</line>``
    fragments with pandas C-level ops: one vectorized contains() scan, one
    vectorized concat, Python-level escaping only for the flagged minority.
    Returns a plain list aligned with the input."""
    import numpy as np

    t = text_series
    mask = t.str.contains(_XML_NEEDS_ESCAPE, regex=True, na=False).to_numpy()
    frags = ("<line>" + t.fillna("") + "</line>").to_numpy()
    if mask.any():
        raw = t.to_numpy()
        for i in np.flatnonzero(mask):
            frags[i] = f"<line>{xml_escape_str(raw[i])}</line>"
    return frags.tolist()


def render_conv(conv_id: str, rows, min_ts, turn_capped: bool,
                max_doc_bytes: int | None, events_per_doc: int,
                with_text: bool = True, with_norm: bool = False,
                xml_line_frags: list | None = None,
                want_xml: bool = True) -> dict | None:
    """One conversation -> doc record (or None for the P2 empty-event drop).

    ``rows``: sequence of (turn_idx, role_name, text, tool, tool_name)
    tuples sorted ascending by turn_idx (the sortWithinPartitions order).
    ``xml_line_frags``: optional pre-escaped ``<line>…</line>`` fragments
    aligned with rows (see xml_lines_vectorized). ``want_xml=False`` skips
    XML entirely (the --lang json path) and leaves the xml field None.
    Output dict matches arrow_docs.DOC_SCHEMA field-for-field and is
    byte-equal to the oracle path (render.xml_from_doc for the XML)."""
    token_findall = TOKEN_RE.findall
    unescape_sub = UNESCAPE_RE.sub
    collectors_get = _COLLECTORS.get
    xsrch = _XML_NEEDS_ESCAPE.search
    xesc = xml_escape_str
    fpref_get = _FPREF_CACHE.get

    jstr = json_str
    texts: list = []
    n_records = 0
    add_errs: list = []          # (turn_idx, code) — earliest wins
    row_errs: list = []          # (turn_idx, code, text) for the error sink
    uniq_seen: set = set()
    sys_insts: list = []         # (fields, fxml, fjson) uniq-collected instances
    rep_data: dict = {r: [] for r in _REP_ROLES}
    rep_xml: dict = {r: [] for r in _REP_ROLES}
    rep_json: dict = {r: [] for r in _REP_ROLES}
    slot_rows: list = []         # (item_idx, fields, fxml, fjson) in turn order
    catch_all: list = []         # (lowered_role, fields, fxml, fjson) first appearance
    tools: list = []
    tools_seen: set = set()
    # execve token collection (tool_call turns only)
    whole: dict = {}
    lens: dict = {}
    slices: dict = {}
    argc_vals: list = []
    seen_arg_any = False
    # norm inputs (collected only when needed)
    user_msgs: list = [] if with_norm else None
    n_tool_calls = 0
    first_role = rows[0][1] if rows else None

    for turn_idx, role, text, tool, tool_name in rows:
        texts.append(text)
        pairs = token_findall(text) if text else ()
        fields: dict = {}
        frag: dict = {}
        jf: dict = {}            # per-key '"k":[…]' JSON members (keys are
        hex_bad = False          # grammar word-chars — no key escaping)
        for k, v in pairs:
            if v[0] == '"' and len(v) >= 2 and v[-1] == '"':
                v = v[1:-1]
                if "\\" in v:
                    v = unescape_sub(r"\1", v)
            # per-field XML fragments only when XML is selected (--lang
            # json skips the escape + f-string work entirely — round 6)
            if k == "hex":
                d = decode_hex(v)
                if d is None:
                    # undecodable "hex" latches INVALID_HEX (data voided), but
                    # escape defensively — the raw token can be any \S+
                    fields[k] = [v]
                    jf[k] = f'"{k}":[{jstr(v)}]'
                    hex_bad = True
                    if want_xml:
                        pref = fpref_get(k) or _fpref(k)
                        frag[k] = (f"{pref}{v if xsrch(v) is None else xesc(v)}"
                                   "</v></f>")
                else:
                    fields[k] = [d, v]
                    jf[k] = f'"{k}":[{jstr(d)},{jstr(v)}]'
                    hex_bad = False
                    if want_xml:
                        pref = fpref_get(k) or _fpref(k)
                        frag[k] = (
                            f"{pref}{d if xsrch(d) is None else xesc(d)}"
                            f"</v><v>{v}</v></f>"
                        )
            else:
                fields[k] = [v]
                jf[k] = f'"{k}":[{jstr(v)}]'
                if want_xml:
                    pref = fpref_get(k) or _fpref(k)
                    frag[k] = (f"{pref}{v if xsrch(v) is None else xesc(v)}"
                               "</v></f>")

        # row errors (F5/F6/F7 add-time errors, ref rc.h:24-48)
        if pairs:
            n_records += 1
            row_error = _INVALID_HEX if hex_bad else None
        else:
            row_error = _PARSE_FAIL if text and text.strip() else None
        if row_error is None and tool is not None and tool_name is None:
            row_error = _UNKNOWN_TOOL
        if row_error is not None:
            add_errs.append((turn_idx, row_error))
            row_errs.append((turn_idx, row_error, text))

        if tool_name is not None and tool_name not in tools_seen:
            tools_seen.add(tool_name)
            tools.append(tool_name)

        # collector dispatch (U1 registry, ref lib/conv_buf.c:60-96; roles
        # absent from the registry fall through to the catch-all uniq)
        coll = collectors_get(role)
        if coll is _REP:
            rep_data[role].append(fields)
            rep_xml[role].append(frag)
            rep_json[role].append(jf)
            if role == "tool_call":
                n_tool_calls += 1
                for k, fv in fields.items():
                    if k[0] == "a":
                        if k == "argc":
                            argc_vals.append(try_int(fv[0]))
                            seen_arg_any = True
                            continue
                        m = ARG_KEY_RE.match(k)
                        if m:
                            seen_arg_any = True
                            idx = int(m.group(1))
                            if m.group(2):  # _len
                                lens.setdefault(idx, []).append(try_int(fv[0]))
                            elif m.group(3) is not None:  # slice
                                slices.setdefault(idx, []).append(
                                    (int(m.group(3)), fv[0])
                                )
                            else:
                                whole.setdefault(idx, []).append(fv[0])
            elif with_norm and role == "user":
                mv = fields.get("msg")
                user_msgs.append(mv[0] if mv else None)
        elif coll is _SLOT:
            iv = fields.get("item")
            slot_rows.append((try_int(iv[0]) if iv else None, fields, frag, jf))
        elif coll is _UNIQ:
            if role in uniq_seen:
                add_errs.append((turn_idx, _REPEATED))
            uniq_seen.add(role)
            sys_insts.append((fields, frag, jf))
        elif coll is None:  # catch-all
            key = role.lower()
            if key in uniq_seen:
                add_errs.append((turn_idx, _REPEATED))
            else:
                uniq_seen.add(key)
                if key not in _RESERVED_DATA_KEYS:
                    catch_all.append((key, fields, frag, jf))
        # drop: contributes nothing

    # ---- end-of-event validation (error precedence mirrors oracle.coalesce_conv:
    # add-time errors by earliest turn, then EXECVE, then PATH)
    error = min(add_errs)[1] if add_errs else None

    args = None
    if seen_arg_any:
        args, execve_err = _reassemble(whole, lens, slices, argc_vals)
        if error is None:
            error = execve_err

    # path collector: slots sorted by item_idx (None-last, stable)
    if slot_rows:
        results = sorted(
            slot_rows, key=lambda r: (r[0] is None, r[0] if r[0] is not None else 0)
        )
        item_idxs = [r[0] for r in results]
        path_ok = (
            all(i is not None for i in item_idxs)
            and sorted(item_idxs) == list(range(len(results)))
        )
        if error is None and not path_ok:
            error = _INVALID_PATH
    else:
        results = ()

    if n_records == 0 and error is None:
        return None  # P2 empty-event drop (ref lib/conv_buf.c:570-574)

    m = _SERIAL_SEARCH(conv_id)
    serial = int(m.group(1)) if m else None
    time_str = _iso_time(min_ts)

    # ---- data section (voided on error — P6, conv_buf.c:627-648). Built
    # directly without None members, preserving oracle.doc_object's key
    # order: registry order, then args, tools, then catch-all splice. The
    # XML <data> body is assembled alongside from the per-turn fragments,
    # in the same key order (a field frag is one joined <f…> run).
    data = None
    data_xml = None
    data_json = None
    if error is None:
        data = {}
        xp = []
        jp = []
        if len(sys_insts) == 1:
            f0, x0, j0 = sys_insts[0]
            data["system"] = f0
            if want_xml:
                xp.append(f"<system>{''.join(x0.values())}</system>")
            jp.append('"system":{' + ",".join(j0.values()) + "}")
        for role in _REP_ROLES:
            lst = rep_data[role]
            if lst:
                data[role] = lst
                if want_xml:
                    op, cl = _REP_TAGS[role]
                    xp.extend(
                        [f"{op}{''.join(x.values())}{cl}" for x in rep_xml[role]]
                    )
                jp.append(
                    f'"{role}":[' + ",".join(
                        "{" + ",".join(j.values()) + "}" for j in rep_json[role]
                    ) + "]"
                )
        if results:
            data[_SLOT_ROLE] = [r[1] for r in results]
            if want_xml:
                xp.extend(
                    [f"{_SLOT_OPEN}{''.join(r[2].values())}{_SLOT_CLOSE}"
                     for r in results]
                )
            jp.append(
                f'"{_SLOT_ROLE}":[' + ",".join(
                    "{" + ",".join(r[3].values()) + "}" for r in results
                ) + "]"
            )
        if args is not None:  # args == [] still renders (oracle keeps non-None)
            data["args"] = args
            if want_xml:
                xp.append(
                    "<args>"
                    + "".join(
                        [f"<a>{a if xsrch(a) is None else xesc(a)}</a>" for a in args]
                    )
                    + "</args>"
                )
            jp.append('"args":[' + ",".join(jstr(a) for a in args) + "]")
        if tools:
            data["tools"] = tools
            if want_xml:
                xp.append(
                    "<tools>"
                    + "".join(
                        [f"<t>{t if xsrch(t) is None else xesc(t)}</t>" for t in tools]
                    )
                    + "</tools>"
                )
            jp.append('"tools":[' + ",".join(jstr(t) for t in tools) + "]")
        for key, fields, frag, jfd in catch_all:
            if key not in data:
                data[key] = fields
                if want_xml:
                    xp.append(f"<{key}>{''.join(frag.values())}</{key}>")
                jp.append(jstr(key) + ":{" + ",".join(jfd.values()) + "}")
        data_xml = "".join(xp) if want_xml else None
        data_json = '"data":{' + ",".join(jp) + "}"

    norm = None
    if with_norm:
        sys_attrs = list(sys_insts[0][0].keys()) if len(sys_insts) == 1 else None
        norm = {
            "event_kind": "tool_use" if n_tool_calls else "dialogue",
            "session": serial,
            "subject_kind": "user" if user_msgs else first_role,
            "subject_primary": user_msgs[0] if user_msgs else None,
            "subject_secondary": user_msgs[-1] if len(user_msgs) >= 2 else None,
            "subject_attrs": sys_attrs,
            "action": "call" if n_tool_calls else "converse",
            "object_kind": "tool_args" if args else None,
            "object_primary": args[0] if args else None,
            "object_secondary": args[1] if args and len(args) > 1 else None,
            "object_primary2": args[2] if args and len(args) > 2 else None,
            "object_attrs": args[3:] if args and len(args) > 3 else None,
            "result": len(results),
            "how": tools[0] if tools else None,
            "key": conv_id,
        }
        norm = {k: v for k, v in norm.items() if v is not None and v != []}

    # ---- render: member strings composed directly (round 4 — no dict
    # build + json.dumps walk per variant; members are rendered ONCE and
    # every trim variant reuses them). json_str is byte-equal to
    # json.dumps(ensure_ascii=False), so the assembled doc is byte-equal to
    # the oracle's dumps of the same object (JSON is context-free). Trim
    # cascade mirrors oracle.max_text_lines / gbtree.c:468-606.
    text_on = with_text or error is not None

    m_serial = f'"serial":{serial}' if serial is not None else '"serial":null'
    m_time = f'"time":"{time_str}"'
    m_error = f'"error":"{error}"' if error is not None else None
    norm_json = None
    if norm:
        njp = []
        for k, v in norm.items():
            if type(v) is str:
                njp.append(f'"{k}":{jstr(v)}')
            elif type(v) is list:
                njp.append(f'"{k}":[' + ",".join(jstr(x) for x in v) + "]")
            else:  # int (session / result)
                njp.append(f'"{k}":{v}')
        norm_json = '"norm":{' + ",".join(njp) + "}"

    jlines = None
    if text_on:
        jlines = [jstr(t) if t is not None else "null" for t in texts]

    def dump_s(n_text, norm_on: bool, data_on: bool, trimmed: bool) -> str:
        parts = [m_serial, m_time]
        if n_text is not None:
            parts.append('"text":[' + ",".join(jlines[:n_text]) + "]")
        if data_on and data_json is not None:
            parts.append(data_json)
        if norm_on and norm_json is not None:
            parts.append(norm_json)
        if m_error is not None:
            parts.append(m_error)
        if trimmed:
            parts.append('"trimmed":true')
        return "{" + ",".join(parts) + "}"

    n_full = len(texts) if text_on else None
    full = dump_s(n_full, True, True, False)
    trimmed = bool(turn_capped)
    doc = full
    # the chosen variant's member presence, for the XML rendering below
    v_text, v_norm, v_data, v_trim = n_full, bool(norm), data is not None, False
    # fit check without encoding: chars <= bytes, so len > cap is a certain
    # miss; len <= cap is a certain fit for ASCII docs (chars == bytes)
    if max_doc_bytes is not None and (
        len(full) > max_doc_bytes
        or (not full.isascii() and len(full.encode("utf-8")) > max_doc_bytes)
    ):
        trimmed = True
        no_text = dump_s(None, True, True, True)
        k = 0
        if text_on:
            budget = max_doc_bytes - len(no_text.encode("utf-8"))
            used = 9
            for j in jlines:
                b = (len(j) if j.isascii() else len(j.encode("utf-8"))) + 1
                if used + b > budget:
                    break
                used += b
                k += 1
        if k > 0:
            doc = dump_s(k, True, True, True)
            v_text, v_norm, v_data, v_trim = k, bool(norm), data is not None, True
        else:
            for norm_on, data_on in ((True, True), (False, True),
                                     (False, False)):
                doc = dump_s(None, norm_on, data_on, True)
                v_text, v_norm, v_data, v_trim = (
                    None, norm_on and bool(norm),
                    data_on and data is not None, True)
                if len(doc.encode("utf-8")) <= max_doc_bytes:
                    break

    # ---- XML assembly from precomputed fragments (byte-equal to
    # render.xml_from_doc of the chosen doc variant; member presence
    # follows the v_* flags the cascade recorded)
    xml = None
    if want_xml:
        xb = [f'<event serial="{serial}" time="{time_str}"']
        if error:
            xb.append(f' error="{error if xsrch(error) is None else xesc(error)}"')
        if v_trim:
            xb.append(' trimmed="true"')
        xb.append(">")
        if v_text is not None:
            xb.append("<text>")
            if xml_line_frags is not None:
                xb.extend(xml_line_frags if v_text == len(texts)
                          else xml_line_frags[:v_text])
            else:
                xb.extend(
                    [f"<line>{t if xsrch(t) is None else xesc(t)}</line>"
                     if t is not None else "<line></line>"
                     for t in texts[:v_text]]
                )
            xb.append("</text>")
        if v_data:
            xb.append("<data>")
            xb.append(data_xml)
            xb.append("</data>")
        if v_norm:
            xb.append("<norm>")
            for k, v in norm.items():
                vals = v if isinstance(v, list) else [v]
                xb.append(
                    f'<f name="{_xml_name(k)}">'
                    + "".join([f"<v>{xesc(str(x))}</v>" for x in vals])
                    + "</f>"
                )
            xb.append("</norm>")
        xb.append("</event>")
        xml = "".join(xb)

    return {
        "conv_id": conv_id,
        "doc_id": serial // events_per_doc if serial is not None else None,
        "serial": serial,
        "time": time_str,
        "n_turns": len(rows),
        "doc": doc,
        "xml": xml,
        "trimmed": trimmed,
        "error": error,
        "row_errs": row_errs,
    }


def _max_text_lines(texts: list, budget: int) -> int:
    """oracle.max_text_lines, inlined (same arithmetic byte-for-byte)."""
    used, k = 9, 0
    jd = json.dumps
    for line in texts:
        esc = 4 if line is None else len(jd(line, ensure_ascii=False).encode("utf-8"))
        if used + esc + 1 > budget:
            break
        used += esc + 1
        k += 1
    return k
