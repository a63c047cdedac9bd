"""Declared JSON Schema for emitted event documents — the analog of the
reference's externally-declared output schema
(/root/reference/lib/aushape.schema.json; XSD lib/aushape.xsd), used by
tests to validate every emitted doc structurally (SURVEY.md §5.2)."""

from __future__ import annotations

from . import schemas

FIELDS_SCHEMA = {
    "type": "object",
    # field name -> [interpreted, raw?] (ref lib/field.c:116-130)
    "additionalProperties": {
        "type": "array",
        "items": {"type": "string"},
        "minItems": 1,
        "maxItems": 2,
    },
}

NORM_SCHEMA = {
    "type": "object",
    "additionalProperties": False,
    "required": ["event_kind", "action", "result", "key"],
    "properties": {
        "event_kind": {"enum": ["tool_use", "dialogue"]},
        "session": {"type": ["integer", "null"]},
        "subject_kind": {"type": "string"},
        "subject_primary": {"type": "string"},
        "subject_secondary": {"type": "string"},
        "subject_attrs": {"type": "array", "items": {"type": "string"}},
        "action": {"enum": ["call", "converse"]},
        "object_kind": {"enum": ["tool_args"]},
        "object_primary": {"type": "string"},
        "object_secondary": {"type": "string"},
        "object_primary2": {"type": "string"},
        "object_attrs": {"type": "array", "items": {"type": "string"}},
        "result": {"type": "integer", "minimum": 0},
        "how": {"type": "string"},
        "key": {"type": "string"},
    },
}

# The event document (ref lib/aushape.schema.json:270-503:
# {serial, time, text[], data{}, norm{}, error?, trimmed?}).
EVENT_DOC_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "type": "object",
    "additionalProperties": False,
    "required": ["serial", "time"],
    "properties": {
        "serial": {"type": ["integer", "null"]},
        "time": {
            "type": "string",
            "pattern": r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z$",
        },
        "text": {"type": "array", "items": {"type": ["string", "null"]}},
        "data": {
            "type": "object",
            "properties": {
                "system": FIELDS_SCHEMA,
                "user": {"type": "array", "items": FIELDS_SCHEMA},
                "assistant": {"type": "array", "items": FIELDS_SCHEMA},
                "tool_call": {"type": "array", "items": FIELDS_SCHEMA},
                "tool_result": {"type": "array", "items": FIELDS_SCHEMA},
                "args": {"type": "array", "items": {"type": ["string", "null"]}},
                "tools": {"type": "array", "items": {"type": "string"}},
            },
            # catch-all roles (unknown record types) are uniq-collected
            # fields objects under their lowercased name
            "additionalProperties": FIELDS_SCHEMA,
        },
        "norm": NORM_SCHEMA,
        "error": {"enum": list(schemas.ERROR_CODES)},
        "trimmed": {"const": True},
    },
}


def validate_doc(doc_json: str) -> None:
    """Raise jsonschema.ValidationError if the emitted doc is malformed."""
    import json

    import jsonschema

    jsonschema.validate(json.loads(doc_json), EVENT_DOC_SCHEMA)


# ------------------------------------------------------- XML structure ----
# Structural contract for the XML rendering — the analog of the reference's
# 760-line XSD (/root/reference/lib/aushape.xsd): element layout
# <event serial time [error] [trimmed]> <text><line/>*</text>?
# <data><role><f name><v/>+</f>*</role>* [<args><a/>*] [<tools><t/>*]</data>?
# <norm><f name><v/>*</f>*</norm>? </event>.
#
# Documented divergence: the reference's optional per-event ``node`` (host)
# attribute (lib/conv_buf.c:413-417) has no analog here — the input_hint
# table carries no host column, so there is nothing to populate it with.

import re as _re

_TIME_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z$")


class XmlSchemaError(ValueError):
    pass


def _fail(msg: str) -> None:
    raise XmlSchemaError(msg)


def _check_fields_elem(el) -> None:
    """<f name="..."><v>..</v>{1,2}</f>* — the fields rendering
    (ref lib/field.c:116-130 value arrays)."""
    for f in el:
        if f.tag != "f":
            _fail(f"<{el.tag}> may contain only <f>, got <{f.tag}>")
        if "name" not in f.attrib or not f.attrib["name"]:
            _fail("<f> requires a non-empty name attribute")
        vs = list(f)
        if not vs or any(v.tag != "v" for v in vs) or len(vs) > 2:
            _fail(f"<f name={f.attrib.get('name')}> must hold 1-2 <v> children")


def validate_xml_doc(xml: str) -> None:
    """Raise XmlSchemaError (or ParseError) unless the string conforms to
    the <event> layout above. Used by tests on every emitted XML doc —
    well-formedness AND structure, completing the §1.3 schema-declaration
    analog for the XML language."""
    import xml.etree.ElementTree as ET

    ev = ET.fromstring(xml)
    if ev.tag != "event":
        _fail(f"root must be <event>, got <{ev.tag}>")
    attrs = set(ev.attrib)
    if not {"serial", "time"} <= attrs:
        _fail("<event> requires serial and time attributes")
    if extra := attrs - {"serial", "time", "error", "trimmed"}:
        _fail(f"unknown <event> attributes: {sorted(extra)}")
    if ev.attrib["serial"] != "None" and not ev.attrib["serial"].lstrip("-").isdigit():
        _fail(f"serial must be an integer or None, got {ev.attrib['serial']!r}")
    if not _TIME_RE.match(ev.attrib["time"]):
        _fail(f"bad time format: {ev.attrib['time']!r}")
    if "error" in attrs and ev.attrib["error"] not in schemas.ERROR_CODES:
        _fail(f"unknown error code {ev.attrib['error']!r}")
    if "trimmed" in attrs and ev.attrib["trimmed"] != "true":
        _fail("trimmed attribute must be 'true'")

    order = {"text": 0, "data": 1, "norm": 2}
    last = -1
    for child in ev:
        if child.tag not in order:
            _fail(f"unknown <event> child <{child.tag}>")
        if order[child.tag] <= last:
            _fail(f"<{child.tag}> out of order or repeated")
        last = order[child.tag]
        if child.tag == "text":
            if any(line.tag != "line" for line in child):
                _fail("<text> may contain only <line>")
        elif child.tag == "data":
            for role in child:
                if role.tag == "args":
                    if any(a.tag != "a" for a in role):
                        _fail("<args> may contain only <a>")
                elif role.tag == "tools":
                    if any(t.tag != "t" for t in role):
                        _fail("<tools> may contain only <t>")
                else:
                    _check_fields_elem(role)
        else:  # norm: <f name><v>*</f>* (values unbounded: object_attrs)
            for f in child:
                if f.tag != "f" or "name" not in f.attrib:
                    _fail("<norm> may contain only named <f>")
                if any(v.tag != "v" for v in f):
                    _fail("<norm> <f> may contain only <v>")


# --------------------------------------------------- search index mapping --
def es_mapping() -> dict:
    """Elasticsearch index mapping for the json_doc sink — the analog of
    the reference's shipped lib/aushape.mapping.json:1-92 (serial:long,
    time:date, per-record-type data sections, *_attrs nested, dynamic
    templates for unanticipated fields). Derived from the same collector
    registry that drives the engines, so a new registered role changes the
    mapping the same way it changes the pipeline.

    Modern-ES dialect (keyword/text instead of the legacy
    string/not_analyzed of the reference's 2.x-era file); the structure —
    typed envelope + per-collector data properties + catch-all dynamic
    templates — mirrors the reference file section for section."""
    data_props: dict = {}
    for role, coll in schemas.COLLECTORS.items():
        if coll == schemas.COLL_DROP:
            continue  # EOE contributes nothing to data{}
        # uniq-collected roles are single field objects; rep/slot roles are
        # arrays of field objects — both are `nested` so per-instance field
        # queries do not cross-match (the reference maps its repeated
        # record types nested for the same reason)
        data_props[role] = {"type": "nested" if coll in (
            schemas.COLL_REP, schemas.COLL_SLOT) else "object"}
    data_props["args"] = {"type": "text"}
    data_props["tools"] = {"type": "keyword"}

    return {
        "date_detection": False,
        "properties": {
            "conv_id": {"type": "keyword"},
            "doc_id": {"type": "long"},
            "serial": {"type": "long"},
            "time": {"type": "date"},
            "n_turns": {"type": "integer"},
            "error": {"type": "keyword"},
            "trimmed": {"type": "boolean"},
            "text": {"type": "text"},
            "data": {"type": "object", "properties": data_props},
            "norm": {
                "type": "object",
                "properties": {
                    "subject_attrs": {"type": "keyword"},
                    "object_attrs": {"type": "keyword"},
                    "session": {"type": "long"},
                    "result": {"type": "integer"},
                },
            },
        },
        "dynamic_templates": [
            # two-representation field value arrays inside a record object
            {"generic_nested_fields": {
                "path_match": "data.*.*.*",
                "mapping": {"type": "text"},
            }},
            # field name -> values inside a record object
            {"generic_fields": {
                "path_match": "data.*.*",
                "mapping": {"type": "text"},
            }},
            # catch-all record types (unknown roles under lowercased names)
            {"generic_records": {
                "path_match": "data.*",
                "mapping": {"type": "object"},
            }},
            {"norm_generic_fields": {
                "path_match": "norm.*",
                "mapping": {"type": "keyword"},
            }},
        ],
    }


def write_es_mapping(path: str) -> dict:
    """Write the mapping artifact (the deployment-time file a search sink
    consumes, like the reference's installed aushape.mapping.json)."""
    import json
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    m = es_mapping()
    with open(path, "w") as f:
        json.dump(m, f, indent=2, sort_keys=True)
        f.write("\n")
    return m
