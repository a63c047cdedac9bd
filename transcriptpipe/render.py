"""Render helpers shared by the render engines and the sinks.

* ``_member`` — one rendered JSON object member via Spark's own ``to_json``
  (the composition trick relational.py assembles its docs from);
  ``TIME_FMT`` — the doc timestamp format.
* ``xml_from_doc`` / ``xml_escape_str`` — event doc object → XML, with the
  escaping rules of aushape lib/gbuf.c:282-342 (&quot; &apos; &lt; &gt;
  &amp;, control chars → &#xNN;); fastkernel and the oracle path share them.
* ``prettify_json`` / ``prettify_xml`` — the F8 fold/indent re-render of a
  doc sink (aushape --fold / --indent).

Trimming — the analog of gbtree priority-trim (lib/gbtree.c:555-606,
invoked at conv_buf.c:668-693) — lives in each render engine: documents
over ``max_doc_bytes`` drop text lines from the end, then the whole text
member, then norm, then the data section, and are marked ``trimmed``
(aushape.schema.json:293-299).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

TIME_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"  # ISO-8601, UTC ('Z'), ms precision
# matches conv_buf.c:399-404's %Y-%m-%dT%H:%M:%S.mmm±HH:MM except we pin UTC
# (documented divergence, SURVEY.md §7.3.5)


def _member(col: Column, name: str) -> Column:
    """One rendered JSON object member ('"name":<value>') or null when the
    column is null. Composition trick: to_json of a one-field struct, outer
    braces stripped — byte-identical to the member inside a one-shot to_json
    (JSON is context-free), so the assembled doc stays byte-equal to the
    Python oracle's json.dumps."""
    j = F.to_json(F.struct(col.alias(name)))
    return F.when(col.isNotNull(), j.substr(F.lit(2), F.length(j) - 2))


_XML_CONTROL = {i: f"&#x{i:X};" for i in range(0x20) if chr(i) not in "\t\n\r"}
import re as _re

_XML_NEEDS_ESCAPE = _re.compile(r"[&<>\"'\x00-\x08\x0b\x0c\x0e-\x1f]")
_XML_HAS_CONTROL = _re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")


def xml_escape_str(s: str) -> str:
    # fast path: most strings need no escaping — one C-level regex scan.
    # Escaping strings take 5 chained C replaces (beats str.translate on the
    # short-string common case); the rare control chars translate after
    # (safe order: replacements introduce no control chars, & goes first).
    if _XML_NEEDS_ESCAPE.search(s) is None:
        return s
    s = (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;").replace("'", "&apos;")
    )
    if _XML_HAS_CONTROL.search(s) is not None:
        s = s.translate(_XML_CONTROL)
    return s


# bounded memo for field/attr names — names come from the token grammar so
# they repeat massively; the cap keeps adversarial inputs from growing it
_NAME_CACHE: dict[str, str] = {}


def _xml_name(k: str) -> str:
    v = _NAME_CACHE.get(k)
    if v is None:
        v = xml_escape_str(k)
        if len(_NAME_CACHE) < 4096:
            _NAME_CACHE[k] = v
    return v


def _fields_xml(fields: dict, _srch=_XML_NEEDS_ESCAPE.search) -> str:
    out = []
    ap = out.append
    for k, v in fields.items():
        if len(v) == 1:  # single-value fast path (the vast majority)
            x = v[0]
            ap(f'<f name="{_xml_name(k)}"><v>'
               f'{x if _srch(x) is None else xml_escape_str(x)}</v></f>')
        else:
            vals = "".join(
                [f"<v>{x if _srch(x) is None else xml_escape_str(x)}</v>"
                 for x in v]
            )
            ap(f'<f name="{_xml_name(k)}">{vals}</f>')
    return "".join(out)


def xml_from_doc(e: dict, _srch=_XML_NEEDS_ESCAPE.search) -> str:
    """Event doc object -> XML string. Element layout mirrors
    lib/aushape.xsd: <event serial time [error] [trimmed]>
    <text><line/>*</text> <data><role>...</role>*</data> </event>."""
    attrs = f' serial="{e["serial"]}" time="{e["time"]}"'
    if e.get("error"):
        attrs += f' error="{xml_escape_str(e["error"])}"'
    if e.get("trimmed"):
        attrs += ' trimmed="true"'
    parts = [f"<event{attrs}>"]
    ap = parts.append
    texts = e.get("text")
    if texts is not None:
        ap("<text>")
        ap("".join(
            [f"<line>{t if _srch(t) is None else xml_escape_str(t)}</line>"
             if t is not None else "<line></line>" for t in texts]
        ))
        ap("</text>")
    data = e.get("data")
    if data is not None:
        ap("<data>")
        # generalized over data keys in document order, so catch-all roles
        # (unknown record types, disp_coll.c:191-228 analog) render too
        for key, v in data.items():
            if v is None:
                continue
            if key == "args":
                ap("<args>"
                   + "".join([f"<a>{xml_escape_str(a)}</a>" for a in v])
                   + "</args>")
            elif key == "tools":
                ap("<tools>"
                   + "".join([f"<t>{xml_escape_str(t)}</t>" for t in v])
                   + "</tools>")
            elif isinstance(v, dict):  # uniq-collected (system / catch-all)
                ap(f"<{key}>{_fields_xml(v)}</{key}>")
            else:  # rep / slot collected: one element per instance
                for item in v:
                    ap(f"<{key}>{_fields_xml(item)}</{key}>")
        ap("</data>")
    norm = e.get("norm")
    if norm is not None:
        ap("<norm>")
        for k, v in norm.items():
            vals = v if isinstance(v, list) else [v]
            ap(f'<f name="{_xml_name(k)}">'
               + "".join([f"<v>{xml_escape_str(str(x))}</v>" for x in vals])
               + "</f>")
        ap("</norm>")
    ap("</event>")
    return "".join(parts)


# ------------------------------------------------------ pretty-print (F8) --

def dumps_folded(obj, fold_level: int, nest_indent: int = 4,
                 init_indent: int = 0, _level: int = 0) -> str:
    """JSON rendering with the reference's fold semantics
    (lib/gbuf.c:242-280 space_opening/space_closing; defaults
    lib/conf.c:183-190 fold_level=4 nest_indent=4): a node at nesting level
    <= fold_level starts on its own line indented
    ``init_indent + nest_indent * level`` spaces; anything deeper is folded
    into a single compact line. fold_level=0 == compact ("fold all");
    a huge fold_level == full unfold (byte-equal to json.dumps(indent=...)
    modulo the indent width)."""
    import json as _json

    if not isinstance(obj, (dict, list)) or not obj:
        return _json.dumps(obj, ensure_ascii=False, separators=(",", ":"))
    child = _level + 1
    if child > fold_level:  # children fold into one line (space_opening no-op)
        return _json.dumps(obj, ensure_ascii=False, separators=(",", ":"))
    pad = " " * (init_indent + nest_indent * child)
    close_pad = " " * (init_indent + nest_indent * _level)
    if isinstance(obj, dict):
        body = ",\n".join(
            f"{pad}{_json.dumps(k, ensure_ascii=False)}: "
            f"{dumps_folded(v, fold_level, nest_indent, init_indent, child)}"
            for k, v in obj.items()
        )
        return "{\n" + body + "\n" + close_pad + "}"
    body = ",\n".join(
        f"{pad}{dumps_folded(v, fold_level, nest_indent, init_indent, child)}"
        for v in obj
    )
    return "[\n" + body + "\n" + close_pad + "]"


def prettify_json(json_docs: DataFrame, indent: int = 2,
                  fold_level: int | None = None) -> DataFrame:
    """F8 fold/indent analog (reference --fold/--indent, lib/gbuf.c space
    helpers): re-render the doc column pretty-printed with `indent` spaces
    per nesting level. ``fold_level=None`` unfolds fully (reference
    --fold=none); an integer N unfolds only nesting levels <= N and keeps
    deeper structures on one line (the reference's intermediate fold
    levels, default 4 in lib/conf.c:183). A presentation-only pass over the
    sink — the canonical compact form stays the comparison target."""

    @pandas_udf(T.StringType())
    def pretty(doc: pd.Series) -> pd.Series:
        import json

        if fold_level is None:
            return doc.map(lambda j: json.dumps(json.loads(j),
                                                ensure_ascii=False,
                                                indent=indent))
        return doc.map(
            lambda j: dumps_folded(json.loads(j), fold_level, nest_indent=indent)
        )

    return json_docs.withColumn("doc", pretty("doc"))


def _fold_xml(x: str, fold_level: float, indent: int = 2) -> str:
    """XML fold with the reference's level semantics (gbuf.c:242-280): an
    element at nesting level <= fold_level starts on its own line; deeper
    elements stay inline. Closing tags take their own line exactly when
    their children were unfolded (space_closing: level+1 <= fold_level)."""
    import re as _re2

    out, depth = [], 0
    pad = " " * indent
    for tok in _re2.split(r"(<[^>]+>)", x):
        if not tok:
            continue
        if tok.startswith("</"):
            depth -= 1
            if depth + 1 <= fold_level:
                out.append("\n" + pad * depth + tok)
            else:
                out.append(tok)
        elif tok.startswith("<") and not tok.endswith("/>") and "</" not in tok:
            if depth <= fold_level:
                out.append("\n" + pad * depth + tok)
            else:
                out.append(tok)
            depth += 1
        else:
            out.append(tok)
    return "".join(out).lstrip("\n")


def prettify_xml(xml_docs: DataFrame, fold_level: int | None = None) -> DataFrame:
    """XML fold: one element per line up to ``fold_level`` (None = unfold
    fully, reference --fold=none), two-space nesting indent."""
    lvl = float("inf") if fold_level is None else fold_level

    @pandas_udf(T.StringType())
    def pretty(doc: pd.Series) -> pd.Series:
        return doc.map(lambda x: _fold_xml(x, lvl))

    return xml_docs.withColumn("doc", pretty("doc"))
