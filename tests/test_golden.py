"""Golden-corpus tests (SURVEY.md §5.2.1 — the analog of the reference's
committed expected-output corpus): the oracle AND the Spark engines must
reproduce tests/golden/ byte-for-byte, and every emitted doc must validate
against the declared JSON Schema (docschema.py)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from transcriptpipe import docschema, oracle, pipeline, render, schemas, synth

GOLDEN = Path(__file__).parent / "golden"


@pytest.fixture(scope="module")
def manifest():
    return json.loads((GOLDEN / "MANIFEST.json").read_text())


@pytest.fixture(scope="module")
def golden_docs():
    return [json.loads(line) for line in (GOLDEN / "docs.jsonl").read_text().splitlines()]


@pytest.fixture(scope="module")
def golden_errors():
    return [json.loads(line) for line in (GOLDEN / "errors.jsonl").read_text().splitlines()]


@pytest.fixture(scope="module")
def golden_input(manifest):
    return synth.gen_transcripts(
        n_convs=manifest["n_convs"], seed=manifest["seed"],
        malformed_frac=manifest["malformed_frac"],
        unknown_tool_frac=manifest["unknown_tool_frac"],
    )


def test_oracle_reproduces_golden(golden_input, golden_docs, golden_errors):
    result = oracle.run_pipeline(golden_input.to_dict("records"), with_norm=True)
    got = [
        {**d, "xml": render.xml_from_doc(json.loads(d["doc"]))}
        for d in result["json_doc"]
    ]
    assert got == golden_docs
    assert result["error"] == golden_errors


@pytest.mark.parametrize("engine", ["arrow", "sql"])
def test_spark_engines_reproduce_golden(spark, golden_input, golden_docs, engine):
    df = spark.createDataFrame(golden_input, schema=schemas.TRANSCRIPTS)
    sinks = pipeline.build(
        spark, df,
        pipeline.PipeConf(engine=engine, persist=False, with_norm=True,
                          max_doc_bytes=8192),
    )
    jd = {r["conv_id"]: r for r in sinks["json_doc"].collect()}
    xml = {r["conv_id"]: r["doc"] for r in sinks["xml_doc"].collect()}
    assert set(jd) == {g["conv_id"] for g in golden_docs}
    for g in golden_docs:
        r = jd[g["conv_id"]]
        assert r["doc"] == g["doc"], g["conv_id"]
        assert xml[g["conv_id"]] == g["xml"], g["conv_id"]
        assert r["serial"] == g["serial"] and r["n_turns"] == g["n_turns"]
        assert r["error"] == g["error"] and bool(r["trimmed"]) == g["trimmed"]


def test_golden_docs_validate_against_schema(golden_docs):
    for g in golden_docs:
        docschema.validate_doc(g["doc"])


def test_pipeline_output_validates_against_schema(spark, tiny_df):
    """Every doc the pipeline emits (incl. trimmed variants) validates."""
    sinks = pipeline.build(
        spark, tiny_df,
        pipeline.PipeConf(persist=False, with_norm=True, max_doc_bytes=600),
    )
    for r in sinks["json_doc"].collect():
        docschema.validate_doc(r["doc"])


def test_golden_xml_validates_against_structure(golden_docs):
    """XSD analog (ref lib/aushape.xsd): every golden XML doc conforms to
    the declared <event> element layout, not merely well-formedness."""
    for g in golden_docs:
        docschema.validate_xml_doc(g["xml"])


def test_xml_structure_validator_rejects_malformed():
    import pytest as _pytest

    bad = [
        '<wrong serial="1" time="2026-01-01T00:00:00.000Z"></wrong>',
        '<event time="2026-01-01T00:00:00.000Z"></event>',          # no serial
        '<event serial="1" time="bad"></event>',                    # bad time
        '<event serial="1" time="2026-01-01T00:00:00.000Z" error="NOPE"></event>',
        '<event serial="1" time="2026-01-01T00:00:00.000Z"><data/><text/></event>',
        '<event serial="1" time="2026-01-01T00:00:00.000Z">'
        '<data><user><x/></user></data></event>',                   # non-<f> child
        '<event serial="1" time="2026-01-01T00:00:00.000Z">'
        '<data><user><f><v>a</v></f></user></data></event>',        # unnamed <f>
    ]
    for x in bad:
        with _pytest.raises(docschema.XmlSchemaError):
            docschema.validate_xml_doc(x)
