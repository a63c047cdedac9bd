"""Relational all-JVM engine ("sql") — the coalesce+render semantics as
window functions, conditional aggregates, and native array/string
expressions, with NO higher-order-function lambdas on the hot path.

Motivation (round 3): expressing the per-conversation collectors as array
lambdas over a collected turn array is slow — Spark evaluates HOF lambdas
in the interpreted expression evaluator and pulls them into their own
eagerly-evaluated projections. This engine expresses the SAME semantics
the way the DuckDB oracle SQL does (see
__spark_entry__._transcript_cls_sql, validated row-for-row against the
Python oracle):

* per-turn JSON field fragments rendered narrowly with ``to_json`` (native)
* uniq-collector duplicate detection via a ``row_number`` window over
  (conv_id, uniq-key) — co-partitioned with the main aggregation, so the
  whole engine still shuffles the fact table ONCE
* one ``groupBy(conv_id)`` of conditional sorted collect_lists (structs of
  orderable scalars only — no maps — so ``array_sort`` needs no comparator
  lambda), struct-min/max firsts, and counting aggregates
* EXECVE reassembly as a relational branch: posexplode of tool_call tokens
  → per-turn LAST-WIN via a window → per-(conv, arg) aggregates → per-conv
  validation — joined back on conv_id (both sides conv-partitioned)
* document assembly as native string concat of the fragments, with the
  member-composition trick of render.py (to_json of one-field structs) for
  anything needing JSON escaping
* the per-line trim consumes a native window cumsum of per-line costs and
  derives the text budget from byte identities

Byte-equality with the oracle and the arrow engine is pinned by
tests/test_engines.py (the arrow-vs-sql matrix) and the golden corpus.

Reference parity: same collector semantics as lib/conv_buf.c:355-709 /
lib/disp_coll.c, same trim order as lib/gbtree.c:555-606.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import schemas
from .arrow_docs import EVENTS_PER_DOC
from .parse import strict_int
from .render import TIME_FMT, _member

_REGISTERED = list(schemas.COLLECTORS)
_UNIQ_ROLES = schemas.UNIQ_ROLES
_REP_ROLES = schemas.REP_ROLES
_SLOT_ROLE = schemas.SLOT_ROLE
# data keys always present in the oracle's dict (possibly None) — catch-all
# roles lowercasing to one of these are excluded (oracle.coalesce_conv)
_RESERVED = [r for r, c in schemas.COLLECTORS.items()
             if c != schemas.COLL_DROP] + ["args", "tools"]

_ARG_KEY_RE = r"^(argc|a\d+(_len)?|a\d+\[\d+\])$"


def _json_obj_member(key_col: Column, val_json: Column) -> Column:
    """'"<escaped key>":<val_json>' — key escaped via the to_json trick."""
    kj = F.to_json(F.map_from_arrays(F.array(key_col), F.array(F.lit(""))))
    # '{"key":""}' -> '"key":'
    key_part = kj.substr(F.lit(2), F.length(kj) - 4)
    return F.concat(key_part, val_json)


def _bare_json(col: Column) -> Column:
    """Render any value column as bare JSON ('[...]' for arrays) — to_json
    only accepts struct/map at the top level, so wrap in a one-field struct
    and strip '{"a":' and '}' (render._member composition trick)."""
    j = F.to_json(F.struct(col.alias("a")))
    return F.when(col.isNotNull(), j.substr(F.lit(6), F.length(j) - 6))


# ---- native XML escaping (round 4: the sql engine's XML path used to
# delegate to a JSON-to-XML pandas UDF, so "all-JVM" held only for
# --lang json; these mirror render.xml_escape_str byte-for-byte with
# Catalyst string replaces — lib/gbuf.c:282-342 escaping rules)
_XML_CTRLS = [i for i in range(0x20) if chr(i) not in "\t\n\r"]
_XML_ESC_RE = "[&<>\"'" + "".join(f"\\x{i:02x}" for i in _XML_CTRLS) + "]"
_XML_CTRL_RE = "[" + "".join(f"\\x{i:02x}" for i in _XML_CTRLS) + "]"


def _xml_esc(c: Column) -> Column:
    """XML-escape a string column. Fast path: ONE regex scan, no rewrite
    (the overwhelming majority of values — the first branch tests the full
    escape class, so clean strings never reach the control-char scan);
    escaping strings pay 5 chained native replaces; the rare control
    characters a further 29 — identical replacement order to
    render.xml_escape_str (& first, so the entities' own '&' survives;
    control replacements introduce no control chars)."""
    esc5 = c
    for src, dst in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                     ('"', "&quot;"), ("'", "&apos;")):
        esc5 = F.replace(esc5, F.lit(src), F.lit(dst))
    full = esc5
    for i in _XML_CTRLS:
        full = F.replace(full, F.lit(chr(i)), F.lit(f"&#x{i:X};"))
    return (
        F.when(~c.rlike(_XML_ESC_RE), c)
        .when(c.rlike(_XML_CTRL_RE), full)
        .otherwise(esc5)
    )


def _xml_fields_frag(fields: Column) -> Column:
    """map<string,array<string>> → '<f name="k"><v>x</v>…</f>…' — the
    per-turn XML analog of to_json(fields), mirroring render._fields_xml.
    Linear per-element lambdas over per-turn token arrays (same shape as
    parse.parse_turns' zip_with; nothing references outer aggregates, so
    no eager-projection quadratic blowup)."""
    return F.array_join(
        F.transform(
            F.map_entries(fields),
            lambda e: F.concat(
                F.lit('<f name="'), _xml_esc(e["key"]), F.lit('">'),
                F.array_join(
                    F.transform(
                        e["value"],
                        lambda v: F.concat(F.lit("<v>"), _xml_esc(v),
                                           F.lit("</v>")),
                    ),
                    "",
                ),
                F.lit("</f>"),
            ),
        ),
        "",
    )


def _xml_wrap_each(arr: Column, tag: str) -> Column:
    """array<string> (pre-escaped fragments) → '<tag>x</tag>' per element,
    concatenated."""
    return F.array_join(
        F.transform(arr, lambda x: F.concat(F.lit(f"<{tag}>"), x,
                                            F.lit(f"</{tag}>"))),
        "",
    )


def _arg_tokens() -> Column:
    """Per-TURN argc/aN token extraction (A5 input), as a NARROW per-row
    filter over the turn's already-built ``fields`` map.

    Round 5 (VERDICT r4 #1): the old ``_args_branch`` re-derived these with
    posexplode + a (conv_id, turn_idx, k) row_number window off a second
    read of the parsed frame; Catalyst pushed the tool_call filter below
    the repartition, physically re-scanning the fact table twice (PLANS.md
    r4 operators (32)/(59)) — ~3x the `text` column reads at 100 TB.  The
    last-win window partitioned by (conv_id, turn_idx, k), i.e. it never
    crossed a row — and the per-turn ``fields`` map ALREADY applies that
    exact last-occurrence-wins dedup (map_from_arrays under the session's
    LAST_WIN dedup policy, which parse.parse_turns depends on), so the
    per-row work here is a single key-pattern filter; classification moves
    to the per-conversation stage (_attach_args), which touches only the
    rare rows that carry arg tokens.  (A first cut classified per row with
    a nested exists() dedup — measured +37% on the whole sql engine; HOF
    lambdas evaluate interpreted, so per-row lambda work is the thing to
    minimize.)"""
    return F.when(
        (F.col("role_name") == "tool_call") & (F.size("keys") > 0),
        F.filter(F.map_entries("fields"),
                 lambda e: e["key"].rlike(_ARG_KEY_RE)),
    )


def _attach_args(main: DataFrame) -> DataFrame:
    """EXECVE reassembly (A5) over the per-conv collected arg tokens
    (column ``_argts`` from the MAIN aggregation — no extra scan, no join).
    Adds (execve_err, args_vals, args_json); all three null for
    conversations that carried no argc/aN token, matching the old
    branch-join's left-null semantics.

    Same validation semantics as before, re-expressed as array algebra over
    the (small, per-conversation) token set: per-arg stats via filtered
    transforms, hex slice reassembly + make_valid_utf8 decode (same U+FFFD
    replacement as the Python engines' bytes.decode(errors="replace")),
    solidity + argc cross-checks (ref lib/execve_coll.c:180-420).

    EVALUATE-ONCE DISCIPLINE (the round-5 lesson, measured 2x on the whole
    engine): Catalyst freely substitutes projection aliases into consumers,
    and the doc/trim/norm assembly downstream references the args outputs
    ~20 times — a plain withColumn here ballooned the physical plan to
    130KB with the flatten/decode subtree inlined ~30x per row.  Two
    guards: (1) every intermediate (classified tokens, idx set, per-arg
    verdicts) is let-bound via the single-element-array transform idiom
    (``transform(array(x), λ)``), so it evaluates exactly once inside one
    struct construction; (2) the finished struct is emitted through an
    ``explode`` Generate boundary — generator outputs are runtime
    attributes Catalyst cannot inline, so every downstream reference is a
    cheap field access."""

    def let(val: Column, f) -> Column:
        return F.element_at(F.transform(F.array(val), f), 1)

    classified = F.transform(
        F.flatten(F.col("_argts")["_argtoks"]),
        lambda x: F.struct(
            F.regexp_extract(x["key"], r"^a(\d+)", 1).try_cast("int")
            .alias("idx"),
            F.when(x["key"] == "argc", F.lit("argc"))
            .when(x["key"].rlike(r"^a\d+_len$"), F.lit("len"))
            .when(x["key"].rlike(r"^a\d+\[\d+\]$"), F.lit("slice"))
            .otherwise(F.lit("whole")).alias("kind"),
            F.regexp_extract(x["key"], r"\[(\d+)\]$", 1).try_cast("int")
            .alias("si"),
            F.element_at(x["value"], 1).alias("v"),
        ),
    )

    def per_idx(E: Column):
        def f(i: Column) -> Column:
            def of_kind(kind: str) -> Column:
                return F.filter(
                    E, lambda e: (e["idx"] == i) & (e["kind"] == kind))

            wl = of_kind("whole")
            n_w = F.size(wl)
            wv = F.array_max(F.transform(wl, lambda e: e["v"]))
            decl = F.array_max(
                F.transform(of_kind("len"), lambda e: strict_int(e["v"])))
            sls = F.array_sort(
                F.transform(of_kind("slice"),
                            lambda e: F.struct(e["si"].alias("si"),
                                               e["v"].alias("v"))))
            n_sl = F.size(sls)
            sidx = sls.getField("si")
            hexcat = F.array_join(sls.getField("v"), "")
            decoded = F.when(
                F.length(hexcat) % 2 == 0,
                F.make_valid_utf8(F.unhex(hexcat).cast("string")),
            )
            solid_sl = (
                (F.array_min(sidx) == 0)
                & (F.array_max(sidx) == n_sl - 1)
                & (F.size(F.array_distinct(sidx)) == n_sl)
            )
            whole_ok = (n_w == 1) & (n_sl == 0) & decl.isNull()
            slice_ok = (
                (n_w == 0) & (n_sl > 0) & solid_sl
                & decoded.isNotNull()
                & (decl.isNull() | (F.octet_length(decoded) == decl))
            )
            return F.struct(
                i.alias("idx"),
                F.when(n_w == 1, wv).when(n_sl > 0, decoded).alias("val"),
                (~(whole_ok | slice_ok)).alias("bad"),
            )

        return f

    def verdict(E: Column, idxs: Column, judged: Column) -> Column:
        argc_decl = F.array_max(
            F.transform(F.filter(E, lambda e: e["kind"] == "argc"),
                        lambda e: strict_int(e["v"]))
        )
        n_args = F.size(idxs)
        solid = (n_args == 0) | (
            (F.array_min(idxs) == 0) & (F.array_max(idxs) == n_args - 1)
        )
        argc_ok = argc_decl.isNull() | (argc_decl == n_args)
        any_bad = F.exists(judged, lambda j: j["bad"])
        valid = solid & ~F.coalesce(any_bad, F.lit(False)) & argc_ok
        has_args = F.size(E) > 0
        args_vals = F.when(has_args & valid,
                           F.array_sort(judged).getField("val"))
        return F.struct(
            F.when(has_args & ~valid,
                   F.lit(schemas.ERR_INVALID_EXECVE)).alias("execve_err"),
            args_vals.alias("args_vals"),
            _bare_json(args_vals).alias("args_json"),
        )

    args_struct = let(classified, lambda E: let(
        F.array_distinct(
            F.transform(F.filter(E, lambda e: e["kind"] != "argc"),
                        lambda e: e["idx"])),
        lambda idxs: let(F.transform(idxs, per_idx(E)),
                         lambda judged: verdict(E, idxs, judged)),
    ))

    main = main.select("*", F.explode(F.array(args_struct)).alias("_args"))
    return main.withColumns({
        "execve_err": F.col("_args")["execve_err"],
        "args_vals": F.col("_args")["args_vals"],
        "args_json": F.col("_args")["args_json"],
    }).drop("_argts")


def render_docs_relational(enriched: DataFrame, max_doc_bytes: int | None = 8192,
                           with_text: bool = True, with_norm: bool = False,
                           want_xml: bool = True) -> DataFrame:
    """enriched RAW turns (enrich.enrich output, optional turn_capped
    column from pipeline.cap_turns) → rendered doc frame matching
    arrow_docs.DOC_SCHEMA.

    ONE shuffle of the fact table, carrying RAW rows only — the tokenizer
    runs AFTER the exchange (same exchange-weight discipline as the arrow
    engine's sorted-stream shape: the shuffle moves (conv_id, turn_idx,
    role, text, tool, ts), not parsed maps)."""
    from . import parse as parse_mod

    has_cap = "turn_capped" in enriched.columns

    role = F.col("role_name")
    registered = role.isin(_REGISTERED)
    is_catch = ~registered
    ukey = (
        F.when(role.isin(_UNIQ_ROLES), role)
        .when(is_catch, F.lower(role))
    )
    line_cost = (
        F.octet_length(F.to_json(F.array(F.col("text")))) - 2 + 1
    ).cast("long")

    p = parse_mod.parse_turns(enriched.repartition("conv_id"))
    # UNKNOWN_TOOL after PARSE_FAIL/INVALID_HEX (the oracle's order)
    p = p.withColumn(
        "row_error",
        F.coalesce(
            "row_error",
            F.when(F.col("tool").isNotNull() & F.col("tool_name").isNull(),
                   F.lit(schemas.ERR_UNKNOWN_TOOL)),
        ),
    )
    p = p.withColumn("_frag", F.to_json("fields"))
    if want_xml:
        p = p.withColumn("_xfrag", _xml_fields_frag(F.col("fields")))
    p = p.withColumn("_ukey", ukey)
    w_uniq = Window.partitionBy("conv_id", "_ukey").orderBy("turn_idx")
    # ROWS frame pinned: the default RANGE frame gives tied turn_idx values
    # one running sum, breaking the strict per-row prefix sum the per-line
    # trim assumes. (conv_id, turn_idx) is the declared input key
    # (pipeline.check_unique_turns), but contract-violating input then still
    # degrades to a well-defined prefix sum instead of tied buckets
    w_cum = (
        Window.partitionBy("conv_id").orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = p.withColumn("_rnu", F.row_number().over(w_uniq))
    p = p.withColumn("_cum", F.sum(line_cost).over(w_cum))
    p = p.withColumn("_argtoks", _arg_tokens())
    catch_member = _json_obj_member(F.lower(role), F.col("_frag"))

    # round 5 (VERDICT r4 #2/#6): with --lang xml the JSON and XML fragments
    # ride ONE collect per role — struct(turn_idx, _frag, _xfrag) — instead
    # of parallel aggregates, halving the ObjectHashAggregate buffer count
    # and collect payload bookkeeping.  Ordering is unchanged: array_sort
    # compares turn_idx first, and (conv_id, turn_idx) uniqueness is a
    # checked contract (pipeline.check_unique_turns), so the extra struct
    # field never participates in the comparison.
    def rep_agg(r: str):
        fields = ["turn_idx", "_frag"] + (["_xfrag"] if want_xml else [])
        return F.array_sort(
            F.collect_list(F.when(role == r, F.struct(*fields)))
        ).alias(f"_{r}_frags")

    aggs = [
        F.count("*").cast("int").alias("n_turns"),
        F.min("ts").alias("min_ts"),
        F.sum(F.when(F.size("keys") > 0, 1).otherwise(0)).alias("n_records"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
        F.sum("vals_bytes").alias("fields_bytes"),
        # texts and the cumsum budget ride ONE collect (same fusion as the
        # frag/xfrag structs): one aggregation buffer, one sort; ordering
        # decided by turn_idx alone under the checked PK
        F.array_sort(F.collect_list(
            F.struct("turn_idx", "text", "_cum"))).alias("_texts_s"),
        F.array_sort(F.collect_list(F.when(
            F.col("row_error").isNotNull(),
            F.struct(
                F.col("turn_idx").alias("turn_idx"),
                F.col("row_error").alias("error_code"),
                F.col("text").alias("text"),
            ),
        ))).alias("row_errs"),
        F.min(F.when(
            F.col("row_error").isNotNull(),
            F.struct(F.col("turn_idx").alias("ti"), F.col("row_error").alias("code")),
        )).alias("_first_err"),
        F.min(F.when(F.col("_ukey").isNotNull() & (F.col("_rnu") >= 2),
                     F.col("turn_idx"))).alias("_rep_turn"),
        F.sum(F.when(role == "system", 1).otherwise(0)).alias("_sys_cnt"),
        F.min(F.when(role == "system", F.struct(
            *(["turn_idx", "_frag"] + (["_xfrag"] if want_xml else []))
        ))).alias("_sys"),
        *[rep_agg(r) for r in _REP_ROLES],
        F.array_sort(F.collect_list(F.when(
            role == _SLOT_ROLE,
            F.struct(
                F.col("item_idx").isNull().cast("int").alias("nl"),
                F.coalesce("item_idx", F.lit(0)).alias("it"),
                F.col("turn_idx").alias("turn_idx"),
                F.col("_frag").alias("_frag"),
                *([F.col("_xfrag").alias("_xfrag")] if want_xml else []),
            ),
        ))).alias("_slot_frags"),
        F.collect_list(F.when(role == _SLOT_ROLE, F.col("item_idx"))).alias("_items"),
        F.sum(F.when(role == _SLOT_ROLE, 1).otherwise(0)).alias("_n_slot"),
        F.array_sort(F.collect_list(F.when(
            F.col("tool_name").isNotNull(), F.struct("turn_idx", "tool_name")
        ))).alias("_tools_s"),
        F.array_sort(F.collect_list(F.when(
            is_catch & (F.col("_rnu") == 1) & ~F.lower(role).isin(_RESERVED),
            F.struct(
                F.col("turn_idx").alias("turn_idx"),
                catch_member.alias("m"),
                # raw lowercased role as the element tag, escaped field
                # body — exactly render.xml_from_doc's catch-all branch
                *([F.concat(F.lit("<"), F.lower(role), F.lit(">"),
                            F.col("_xfrag"),
                            F.lit("</"), F.lower(role), F.lit(">")).alias("xm")]
                  if want_xml else []),
            ),
        ))).alias("_catch_s"),
        F.array_sort(F.collect_list(F.when(
            F.col("_argtoks").isNotNull() & (F.size("_argtoks") > 0),
            F.struct("turn_idx", "_argtoks"),
        ))).alias("_argts"),
    ]
    if has_cap:
        aggs.append(F.max(F.coalesce("turn_capped", F.lit(False))).alias("_pre_trim"))
    if with_norm:
        msg1 = F.element_at(F.element_at("fields", F.lit("msg")), 1)
        aggs += [
            F.sum(F.when(role == "user", 1).otherwise(0)).alias("_n_users"),
            F.min(F.when(role == "user",
                         F.struct(F.col("turn_idx").alias("t"),
                                  msg1.alias("m")))).alias("_u_first"),
            F.max(F.when(role == "user",
                         F.struct(F.col("turn_idx").alias("t"),
                                  msg1.alias("m")))).alias("_u_last"),
            F.min(F.when(role == "system",
                         F.struct(F.col("turn_idx").alias("t"),
                                  _bare_json(F.map_keys("fields")).alias("kj"),
                                  F.map_keys("fields").alias("ks"))
                         )).alias("_sys_keys"),
            F.min(F.struct(F.col("turn_idx").alias("t"),
                           role.alias("r"))).alias("_first_role"),
            F.sum(F.when(role == "tool_call", 1).otherwise(0)).alias("_n_tc"),
        ]

    main = p.groupBy("conv_id").agg(*aggs)
    main = _attach_args(main)

    # ---- end-of-event validation (error precedence = add-time by earliest
    # turn, EXECVE, PATH — mirrors oracle.coalesce_conv)
    rep_struct = F.when(
        F.col("_rep_turn").isNotNull(),
        F.struct(F.col("_rep_turn").alias("ti"),
                 F.lit(schemas.ERR_REPEATED_RECORD).alias("code")),
    )
    add_code = F.least(F.col("_first_err"), rep_struct)["code"]
    items = F.col("_items")
    path_ok = (F.col("_n_slot") == 0) | (
        (F.size(items) == F.col("_n_slot"))
        & (F.array_min(items) == 0)
        & (F.array_max(items) == F.col("_n_slot") - 1)
        & (F.size(F.array_distinct(items)) == F.col("_n_slot"))
    )
    error = F.coalesce(
        add_code, F.col("execve_err"),
        F.when(~path_ok, F.lit(schemas.ERR_INVALID_PATH)),
    )

    serial = F.regexp_extract("conv_id", r"(\d+)$", 1).try_cast("long")
    time_col = F.date_format("min_ts", TIME_FMT)
    texts_arr = F.col("_texts_s")["text"]
    tools = F.array_distinct(F.col("_tools_s")["tool_name"])

    main = (
        main.filter(error.isNotNull() | (F.col("n_records") > 0))
        .withColumn("error", error)
        .withColumn("serial", serial)
        .withColumn("time", time_col)
        .withColumn("_texts", texts_arr)
        .withColumn("_cum", F.col("_texts_s")["_cum"])
        .withColumn("_tools", tools)
    )

    # ---- member strings (order mirrors oracle.doc_object)
    m_serial = F.coalesce(
        F.concat(F.lit('"serial":'), F.col("serial").cast("string")),
        F.lit('"serial":null'),
    )
    m_time = F.concat(F.lit('"time":"'), F.col("time"), F.lit('"'))
    text_on = F.lit(with_text) | F.col("error").isNotNull()

    def data_body() -> Column:
        members = [
            F.when(F.col("_sys_cnt") == 1,
                   F.concat(F.lit('"system":'), F.col("_sys")["_frag"])),
        ]
        for r in _REP_ROLES:
            fr = F.col(f"_{r}_frags")["_frag"]
            members.append(
                F.when(F.size(fr) > 0,
                       F.concat(F.lit(f'"{r}":['), F.array_join(fr, ","),
                                F.lit("]")))
            )
        sfr = F.col("_slot_frags")["_frag"]
        members.append(
            F.when(F.size(sfr) > 0,
                   F.concat(F.lit(f'"{_SLOT_ROLE}":['), F.array_join(sfr, ","),
                            F.lit("]")))
        )
        members.append(
            F.when(F.col("args_json").isNotNull(),
                   F.concat(F.lit('"args":'), F.col("args_json")))
        )
        members.append(
            F.when(F.size("_tools") > 0,
                   F.concat(F.lit('"tools":'), _bare_json(F.col("_tools"))))
        )
        cm = F.col("_catch_s")["m"]
        members.append(F.when(F.size(cm) > 0, F.array_join(cm, ",")))
        return F.concat_ws(",", *members)

    m_data = F.when(
        F.col("error").isNull(),
        F.concat(F.lit('"data":{'), data_body(), F.lit("}")),
    )

    m_norm = F.lit(None).cast("string")
    if with_norm:
        av = F.col("args_vals")
        n_av = F.coalesce(F.size(av), F.lit(0))
        norm_members = F.concat_ws(
            ",",
            F.concat(F.lit('"event_kind":"'),
                     F.when(F.col("_n_tc") > 0, F.lit("tool_use"))
                     .otherwise(F.lit("dialogue")), F.lit('"')),
            _member(F.col("serial"), "session"),
            _member(F.when(F.col("_n_users") > 0, F.lit("user"))
                    .otherwise(F.col("_first_role")["r"]), "subject_kind"),
            _member(F.when(F.col("_n_users") > 0, F.col("_u_first")["m"]),
                    "subject_primary"),
            _member(F.when(F.col("_n_users") >= 2, F.col("_u_last")["m"]),
                    "subject_secondary"),
            F.when((F.col("_sys_cnt") == 1) & (F.col("_sys_keys")["kj"] != "[]"),
                   F.concat(F.lit('"subject_attrs":'), F.col("_sys_keys")["kj"])),
            F.concat(F.lit('"action":"'),
                     F.when(F.col("_n_tc") > 0, F.lit("call"))
                     .otherwise(F.lit("converse")), F.lit('"')),
            _member(F.when(n_av > 0, F.lit("tool_args")), "object_kind"),
            _member(F.try_element_at(av, F.lit(1)), "object_primary"),
            _member(F.try_element_at(av, F.lit(2)), "object_secondary"),
            _member(F.try_element_at(av, F.lit(3)), "object_primary2"),
            F.when(n_av > 3,
                   F.concat(F.lit('"object_attrs":'),
                            _bare_json(F.slice(av, 4, n_av - 3)))),
            F.concat(F.lit('"result":'), F.col("_n_slot").cast("string")),
            _member(F.try_element_at("_tools", F.lit(1)), "how"),
            _member(F.col("conv_id"), "key"),
        )
        m_norm = F.concat(F.lit('"norm":{'), norm_members, F.lit("}"))

    m_error = F.when(
        F.col("error").isNotNull(),
        F.concat(F.lit('"error":"'), F.col("error"), F.lit('"')),
    )
    m_trim = F.lit('"trimmed":true')

    def doc_of(text_arr: Column | None, norm_on: bool, data_on: bool,
               trimmed: bool) -> Column:
        members = [m_serial, m_time]
        if text_arr is not None:
            members.append(
                F.when(text_on,
                       F.concat(F.lit('"text":'), _bare_json(text_arr)))
            )
        if data_on:
            members.append(m_data)
        if norm_on:
            members.append(m_norm)
        members.append(m_error)
        if trimmed:
            members.append(m_trim)
        return F.concat(F.lit("{"), F.concat_ws(",", *members), F.lit("}"))

    full = doc_of(F.col("_texts"), True, True, False)
    pre_trimmed = F.col("_pre_trim") if has_cap else F.lit(False)

    # ---- XML member strings (native; round 4 — mirrors render.xml_from_doc
    # byte-for-byte so the engine stays all-JVM with --lang xml too)
    xdoc_of = None
    if want_xml:
        main = main.withColumn(
            "_xlines",
            F.transform(
                F.col("_texts"),
                lambda t: F.coalesce(
                    F.concat(F.lit("<line>"), _xml_esc(t), F.lit("</line>")),
                    F.lit("<line></line>"),
                ),
            ),
        )
        # ' serial="S" time="T"[ error="E"]' — serial renders the Python
        # str() of the value ("None" when absent), matching xml_from_doc's
        # f-string on every engine
        x_attr_base = F.concat(
            F.lit(' serial="'),
            F.coalesce(F.col("serial").cast("string"), F.lit("None")),
            F.lit('" time="'), F.col("time"), F.lit('"'),
            F.coalesce(
                F.when(F.col("error").isNotNull(),
                       F.concat(F.lit(' error="'), _xml_esc(F.col("error")),
                                F.lit('"'))),
                F.lit(""),
            ),
        )

        def xdata_body() -> Column:
            members = [
                F.when(F.col("_sys_cnt") == 1,
                       F.concat(F.lit("<system>"), F.col("_sys")["_xfrag"],
                                F.lit("</system>"))),
            ]
            for r in _REP_ROLES:
                fr = F.col(f"_{r}_frags")["_xfrag"]
                members.append(F.when(F.size(fr) > 0, _xml_wrap_each(fr, r)))
            sfr = F.col("_slot_frags")["_xfrag"]
            members.append(
                F.when(F.size(sfr) > 0, _xml_wrap_each(sfr, _SLOT_ROLE))
            )
            av = F.col("args_vals")
            members.append(
                F.when(av.isNotNull(),
                       F.concat(F.lit("<args>"),
                                _xml_wrap_each(F.transform(av, _xml_esc), "a"),
                                F.lit("</args>")))
            )
            members.append(
                F.when(F.size("_tools") > 0,
                       F.concat(F.lit("<tools>"),
                                _xml_wrap_each(
                                    F.transform("_tools", _xml_esc), "t"),
                                F.lit("</tools>")))
            )
            cm = F.col("_catch_s")["xm"]
            members.append(F.when(F.size(cm) > 0, F.array_join(cm, "")))
            return F.concat_ws("", *members)

        x_data = F.when(
            F.col("error").isNull(),
            F.concat(F.lit("<data>"), xdata_body(), F.lit("</data>")),
        )

        x_norm = None
        if with_norm:
            def f1(name: str, val: Column) -> Column:
                return F.when(
                    val.isNotNull(),
                    F.concat(F.lit(f'<f name="{name}"><v>'), _xml_esc(val),
                             F.lit("</v></f>")),
                )

            av = F.col("args_vals")
            n_av = F.coalesce(F.size(av), F.lit(0))
            sks = F.col("_sys_keys")["ks"]
            x_norm = F.concat(
                F.lit("<norm>"),
                F.concat_ws(
                    "",
                    f1("event_kind",
                       F.when(F.col("_n_tc") > 0, F.lit("tool_use"))
                       .otherwise(F.lit("dialogue"))),
                    f1("session", F.col("serial").cast("string")),
                    f1("subject_kind",
                       F.when(F.col("_n_users") > 0, F.lit("user"))
                       .otherwise(F.col("_first_role")["r"])),
                    f1("subject_primary",
                       F.when(F.col("_n_users") > 0, F.col("_u_first")["m"])),
                    f1("subject_secondary",
                       F.when(F.col("_n_users") >= 2, F.col("_u_last")["m"])),
                    F.when((F.col("_sys_cnt") == 1) & (F.size(sks) > 0),
                           F.concat(F.lit('<f name="subject_attrs">'),
                                    _xml_wrap_each(
                                        F.transform(sks, _xml_esc), "v"),
                                    F.lit("</f>"))),
                    f1("action",
                       F.when(F.col("_n_tc") > 0, F.lit("call"))
                       .otherwise(F.lit("converse"))),
                    f1("object_kind", F.when(n_av > 0, F.lit("tool_args"))),
                    f1("object_primary", F.try_element_at(av, F.lit(1))),
                    f1("object_secondary", F.try_element_at(av, F.lit(2))),
                    f1("object_primary2", F.try_element_at(av, F.lit(3))),
                    F.when(n_av > 3,
                           F.concat(F.lit('<f name="object_attrs">'),
                                    _xml_wrap_each(
                                        F.transform(
                                            F.slice(av, 4, n_av - 3),
                                            _xml_esc), "v"),
                                    F.lit("</f>"))),
                    f1("result", F.col("_n_slot").cast("string")),
                    f1("how", F.try_element_at("_tools", F.lit(1))),
                    f1("key", F.col("conv_id")),
                ),
                F.lit("</norm>"),
            )

        def xdoc_of(lines_arr: Column | None, norm_on: bool, data_on: bool,
                    trimmed: bool) -> Column:
            parts = [F.lit("<event"), x_attr_base]
            if trimmed:
                parts.append(F.lit(' trimmed="true"'))
            parts.append(F.lit(">"))
            if lines_arr is not None:
                parts.append(F.coalesce(
                    F.when(text_on,
                           F.concat(F.lit("<text>"),
                                    F.array_join(lines_arr, ""),
                                    F.lit("</text>"))),
                    F.lit(""),
                ))
            if data_on:
                parts.append(F.coalesce(x_data, F.lit("")))
            if norm_on and with_norm:
                parts.append(x_norm)
            parts.append(F.lit("</event>"))
            return F.concat(*parts)

    null_xml = F.lit(None).cast("string")
    if max_doc_bytes is None:
        doc, trimmed = full, pre_trimmed
        xml = (xdoc_of(F.col("_xlines"), True, True, False) if want_xml
               else null_xml)
    else:
        cap = F.lit(max_doc_bytes)
        main = main.withColumn("_full", full)
        fullc = F.col("_full")
        # text budget via byte identities, without rendering no_text:
        # inserting the whole text member costs 9 + cum_last bytes
        # (oracle.max_text_lines arithmetic) and no_text adds
        # ',"trimmed":true' (15 bytes), so octet(no_text) =
        # octet(full) - (9 + cum_last) + 15 and
        # budget = cap - octet(no_text) = cap - octet(full) + cum_last - 6
        cum = F.col("_cum")
        text_budget = (
            cap - F.octet_length(fullc)
            + F.coalesce(F.try_element_at(cum, F.lit(-1)), F.lit(0).cast("long"))
            - 6
        )
        partial_k = F.size(F.filter(cum, lambda c: c + 9 <= text_budget))
        partial = doc_of(F.slice("_texts", F.lit(1), partial_k),
                         True, True, True)
        no_text = doc_of(None, True, True, True)
        no_norm = doc_of(None, False, True, True)
        envelope = doc_of(None, False, False, True)
        est_data = F.when(F.col("error").isNull(),
                          F.coalesce(F.col("fields_bytes"), F.lit(0))).otherwise(F.lit(0))
        est_text = F.when(text_on, F.coalesce(F.col("text_bytes"), F.lit(0))).otherwise(F.lit(0))
        full_fits = ((est_text + est_data) <= cap) & (F.octet_length(fullc) <= cap)
        doc = (
            F.when(full_fits, fullc)
            .when(text_on & (partial_k > 0)
                  & (F.octet_length(no_text) <= cap), partial)
            .when((est_data <= cap) & (F.octet_length(no_text) <= cap), no_text)
        )
        if with_norm:
            doc = doc.when((est_data <= cap) & (F.octet_length(no_norm) <= cap), no_norm)
        doc = doc.otherwise(envelope)
        trimmed = ~full_fits | pre_trimmed

        if want_xml:
            # the XML mirrors whichever JSON variant the cascade selected —
            # SAME predicates (on the JSON variants' byte sizes, which is
            # what the cap governs), parallel XML variant strings
            xfull = xdoc_of(F.col("_xlines"), True, True, False)
            xpartial = xdoc_of(F.slice("_xlines", F.lit(1), partial_k),
                               True, True, True)
            xno_text = xdoc_of(None, True, True, True)
            xenvelope = xdoc_of(None, False, False, True)
            xml = (
                F.when(full_fits, xfull)
                .when(text_on & (partial_k > 0)
                      & (F.octet_length(no_text) <= cap), xpartial)
                .when((est_data <= cap) & (F.octet_length(no_text) <= cap),
                      xno_text)
            )
            if with_norm:
                xml = xml.when(
                    (est_data <= cap) & (F.octet_length(no_norm) <= cap),
                    xdoc_of(None, False, True, True),
                )
            xml = xml.otherwise(xenvelope)
        else:
            xml = null_xml

    out = main.select(
        "conv_id",
        F.floor(F.col("serial") / EVENTS_PER_DOC).alias("doc_id"),
        "serial",
        "time",
        "n_turns",
        doc.alias("doc"),
        xml.alias("xml"),
        trimmed.alias("trimmed"),
        "error",
        "row_errs",
    )
    return out
