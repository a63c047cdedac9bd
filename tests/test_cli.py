"""CLI entry point (src/aushape.c single-shot converter analog)."""

from __future__ import annotations

import importlib
import json
import os

import pytest

from transcriptpipe import session, synth
from transcriptpipe.__main__ import main, parse_events_per_doc


def test_parse_events_per_doc():
    assert parse_events_per_doc("none") == 0
    assert parse_events_per_doc("all") == "all"
    assert parse_events_per_doc("50") == 50
    assert parse_events_per_doc("-4096") == -4096


def test_default_cpus_follow_affinity(monkeypatch):
    """Without SPARK_GRAFT_CPUS the session (and the CLI's --cpus default)
    sizes local[N] to the cores this process may run on."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    try:
        assert importlib.reload(session).DEFAULT_CPUS == 3
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
        assert importlib.reload(session).DEFAULT_CPUS == 5
    finally:
        monkeypatch.undo()
        importlib.reload(session)


def test_cli_batch_run(spark, tmp_path):
    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "wh")
    synth.write_transcripts(inp, n_convs=25, seed=5)
    rc = main([inp, "-O", out, "--events-per-doc", "10", "--with-norm",
               "--run-id", "t1"])
    assert rc == 0
    from transcriptpipe.sinks import SinkCatalog

    cat = SinkCatalog(out)
    docs = cat.read(spark, "json_doc")
    assert docs.count() == 25
    assert "norm" in json.loads(docs.first()["doc"])
    logs = cat.read(spark, "json_log")
    assert sum(r["n_events"] for r in logs.collect()) == 25
    # resume: second run with the same run_id writes nothing new
    rc2 = main([inp, "-O", out, "--events-per-doc", "10", "--with-norm",
                "--run-id", "t1"])
    assert rc2 == 0
    assert cat.read(spark, "json_doc").count() == 25


def test_cli_lang_json_skips_xml_sinks(spark, tmp_path):
    """VERDICT/ADVICE r2: --lang json must actually skip building and
    writing the XML sinks (no manifest, no directory), not merely label
    them as skipped."""
    import os

    inp = str(tmp_path / "in2.parquet")
    out = str(tmp_path / "wh2")
    synth.write_transcripts(inp, n_convs=10, seed=6)
    rc = main([inp, "-O", out, "--lang", "json", "--events-per-doc", "5",
               "--run-id", "t2"])
    assert rc == 0
    from transcriptpipe.sinks import SinkCatalog

    cat = SinkCatalog(out)
    assert cat.read(spark, "json_doc").count() == 10
    assert sum(r["n_events"] for r in cat.read(spark, "json_log").collect()) == 10
    for skipped in ("xml_doc", "xml_log"):
        assert not os.path.exists(os.path.join(out, skipped)), skipped
        assert not cat.manifest(skipped)["snapshots"]


def test_lang_xml_only_build(spark, tmp_path):
    """langs=("xml",): json sink absent, xml present and valid (the doc
    column is still computed internally — the trim cascade is byte-based)."""
    import xml.etree.ElementTree as ET

    from transcriptpipe import pipeline

    df = spark.createDataFrame(synth.gen_transcripts(n_convs=8),
                               schema=__import__("transcriptpipe.schemas",
                                                 fromlist=["TRANSCRIPTS"]).TRANSCRIPTS)
    sinks = pipeline.build(spark, df,
                           pipeline.PipeConf(langs=("xml",)))
    assert "json_doc" not in sinks and "xml_doc" in sinks
    rows = sinks["xml_doc"].collect()
    assert len(rows) == 8
    for r in rows:
        ET.fromstring(r["doc"])


def test_cli_fold_writes_folded_sink(spark, tmp_path):
    """--fold/--indent (F8, reference conf.c:43-70 / README --fold=all):
    the written json_doc is the folded re-render, byte-equal to
    render.dumps_folded of the canonical compact doc; xml_doc is folded
    too; "all" stays byte-equal to compact."""
    import json as _json

    from transcriptpipe import render
    from transcriptpipe.sinks import SinkCatalog

    inp = str(tmp_path / "in3.parquet")
    synth.write_transcripts(inp, n_convs=8, seed=7)

    out = str(tmp_path / "wh3")
    rc = main([inp, "-O", out, "--fold", "2", "--indent", "2",
               "--run-id", "t3"])
    assert rc == 0
    cat = SinkCatalog(out)
    folded = {r["conv_id"]: r["doc"]
              for r in cat.read(spark, "json_doc").collect()}
    # recompute the canonical docs and fold them the same way
    out2 = str(tmp_path / "wh4")
    rc = main([inp, "-O", out2, "--run-id", "t4"])
    assert rc == 0
    compact = {r["conv_id"]: r["doc"]
               for r in SinkCatalog(out2).read(spark, "json_doc").collect()}
    assert set(folded) == set(compact)
    any_multiline = False
    for cid, doc in compact.items():
        want = render.dumps_folded(_json.loads(doc), fold_level=2,
                                   nest_indent=2)
        assert folded[cid] == want, cid
        assert _json.loads(folded[cid]) == _json.loads(doc), cid
        any_multiline = any_multiline or "\n" in folded[cid]
    assert any_multiline  # fold level 2 actually unfolds the top levels
    # xml sink folded as well (well-formed, same content modulo whitespace)
    xml_folded = SinkCatalog(out).read(spark, "xml_doc").first()["doc"]
    assert "\n" in xml_folded

    # --fold all == compact bytes
    out3 = str(tmp_path / "wh5")
    rc = main([inp, "-O", out3, "--fold", "all", "--run-id", "t5"])
    assert rc == 0
    allfold = {r["conv_id"]: r["doc"]
               for r in SinkCatalog(out3).read(spark, "json_doc").collect()}
    assert allfold == compact


def test_cli_xml_fold_follows_indent(spark, tmp_path):
    """--indent sets the XML fold's nesting indent as it sets the JSON
    one's: with --lang xml --fold 2 --indent 4 every unfolded element is
    indented by a multiple of 4 spaces, levels 1 and 2 by 4 and 8."""
    from transcriptpipe.sinks import SinkCatalog

    inp = str(tmp_path / "in6.parquet")
    synth.write_transcripts(inp, n_convs=6, seed=8)
    out = str(tmp_path / "wh6")
    rc = main([inp, "-O", out, "--lang", "xml", "--fold", "2",
               "--indent", "4", "--run-id", "t6"])
    assert rc == 0
    docs = [r["doc"] for r in SinkCatalog(out).read(spark, "xml_doc").collect()]
    pads = {len(line) - len(line.lstrip(" "))
            for doc in docs for line in doc.splitlines()
            if line.lstrip(" ").startswith("<")}
    assert {0, 4, 8} <= pads
    assert all(p % 4 == 0 for p in pads), sorted(pads)


def test_cli_default_run_id_is_the_resolved_input(spark, tmp_path):
    """Without --run-id the run id names the whole resolved input path:
    two same-named inputs under different directories both commit into one
    warehouse, and one input reached first by a relative and then by an
    absolute path commits once."""
    from transcriptpipe.sinks import SinkCatalog

    tail = os.path.join("landing", "conversations", "2026", "10", "17",
                        "transcripts.parquet")
    for i, tenant in enumerate(("tenant-a", "tenant-b")):
        path = tmp_path / tenant / tail
        path.parent.mkdir(parents=True)
        synth.write_transcripts(str(path), n_convs=4 + i, seed=10 + i)
    out = str(tmp_path / "wh7")
    # relative to this process's cwd, which the session's JVM shares
    relative = os.path.relpath(tmp_path / "tenant-a" / tail)
    assert main([relative, "-O", out, "--lang", "json"]) == 0
    assert main([str(tmp_path / "tenant-b" / tail), "-O", out, "--lang", "json"]) == 0
    cat = SinkCatalog(out)
    tables = ("json_doc", "error", "raw", "_metrics")
    assert [len(cat.manifest(t)["snapshots"]) for t in tables] == [2] * 4
    assert cat.read(spark, "json_doc").count() == 4 + 5
    # the first input again, by its absolute path: nothing new is committed
    assert main([str(tmp_path / "tenant-a" / tail), "-O", out, "--lang", "json"]) == 0
    assert [len(cat.manifest(t)["snapshots"]) for t in tables] == [2] * 4

    from transcriptpipe.__main__ import default_run_id

    assert default_run_id("x/y_z") != default_run_id("x_y/z")
    assert default_run_id("s3://b/in.parquet").startswith("cli-in.parquet-")


def test_parse_fold_grammar(capsys):
    """--fold grammar is an argparse type: none/all/N accepted, junk gets a
    usage error (exit 2), not a ValueError traceback (ADVICE r4)."""
    import argparse

    import pytest

    from transcriptpipe.__main__ import build_parser, parse_fold

    assert parse_fold("none") == 1 << 30
    assert parse_fold("all") == 0
    assert parse_fold("3") == 3
    with pytest.raises(argparse.ArgumentTypeError):
        parse_fold("deep")
    with pytest.raises(SystemExit) as ei:
        build_parser().parse_args(["in", "-O", "out", "--fold", "deep"])
    assert ei.value.code == 2
    assert "--fold" in capsys.readouterr().err


@pytest.mark.parametrize("flag,value", [("--events-per-doc", "x"),
                                        ("--max-turns-per-conv", "0"),
                                        ("--cpus", "0"), ("--cpus", "-1"),
                                        ("--indent", "-1")])
def test_bad_value_is_usage_error_before_the_session(monkeypatch, capsys,
                                                     flag, value):
    """A value the run cannot honour is an argparse usage error (exit 2):
    no session starts and no traceback is printed."""
    def no_session(**kw):
        raise AssertionError("the session started")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as ei:
        main(["in", "-O", "out", flag, value])
    assert ei.value.code == 2
    assert flag in capsys.readouterr().err


def test_stream_legacy_checkpoint_guard(tmp_path, capsys):
    """0.3->0.4 migration (ADVICE r4): a legacy {out}/_checkpoint dir must
    fail the stream run loudly (exit 2 + hint), never silently start a
    fresh checkpoint that re-appends every doc."""
    out = tmp_path / "wh_legacy"
    (out / "_checkpoint").mkdir(parents=True)
    rc = main([str(tmp_path / "absent.parquet"), "-O", str(out),
               "--stream", "--lang", "json"])
    assert rc == 2
    err = capsys.readouterr().err
    assert "legacy 0.3 stream checkpoint" in err and "_checkpoint_json" in err


def test_stream_rejects_sql_engine(spark, tmp_path):
    """--stream passes --engine to the library: the stream renders with the
    arrow operator only, so --engine sql raises and no sink is written."""
    import pytest

    inp = tmp_path / "in_sql"
    inp.mkdir()
    synth.write_transcripts(str(inp / "0.parquet"), n_convs=3, seed=5)
    out = tmp_path / "wh_sql"
    with pytest.raises(ValueError, match="arrow"):
        main([str(inp), "-O", str(out), "--stream", "--engine", "sql"])
    assert not (out / "json_doc").exists()


def test_parse_size_reference_grammar():
    """--max-doc-bytes accepts the reference --max-event-size grammar
    (conf.c:56-63): N / Nk / Nm / unlimited, minimum 1024."""
    import pytest

    from transcriptpipe.__main__ import parse_size

    assert parse_size("8192") == 8192
    assert parse_size("8k") == 8192
    assert parse_size("2K") == 2048
    assert parse_size("1m") == 1024 * 1024
    assert parse_size("unlimited") is None
    with pytest.raises(ValueError):
        parse_size("512")  # below the reference's 1024 minimum


def test_cli_batch_jobs_are_the_pipeline_run_jobs(spark, tmp_path, jobs):
    """The CLI reads its input with the declared schema: a batch run starts
    as many Spark jobs as ``pipeline.run`` on the same input read with
    ``schemas.TRANSCRIPTS`` (no schema-inference job of its own)."""
    from transcriptpipe import pipeline, schemas
    from transcriptpipe.sinks import SinkCatalog

    inp = str(tmp_path / "in_jobs.parquet")
    synth.write_transcripts(inp, n_convs=12, seed=9)
    n_cli, rc = jobs(lambda: main([inp, "-O", str(tmp_path / "wh_cli"),
                                   "--run-id", "j"]))
    assert rc == 0
    n_run, _ = jobs(lambda: pipeline.run(
        spark, spark.read.schema(schemas.TRANSCRIPTS).parquet(inp),
        SinkCatalog(str(tmp_path / "wh_run")), "j"))
    assert n_cli == n_run > 0


def test_cli_commits_through_catalog_for(spark, tmp_path, monkeypatch):
    """The CLI picks its catalog with ``sinks.catalog_for``: with the
    Iceberg extension on the session every table is committed through
    ``IcebergCatalog``; ``_es_mapping.json`` still lands under ``-O``."""
    from transcriptpipe import pipeline, sinks

    written = []

    class Recording:
        def __init__(self, spark, *args, **kwargs):
            self.root = "spark_catalog.transcriptpipe"

        def committed(self, run_id, table):
            return False

        def write(self, df, table, run_id, source_snapshot=None):
            written.append(table)
            return {"run_id": run_id}

    monkeypatch.setattr(sinks, "has_iceberg", lambda spark: True)
    monkeypatch.setattr(sinks, "IcebergCatalog", Recording)
    inp = str(tmp_path / "in_ice.parquet")
    synth.write_transcripts(inp, n_convs=4, seed=12)
    out = tmp_path / "wh_ice"
    assert main([inp, "-O", str(out), "--run-id", "ice"]) == 0
    # the tables are committed concurrently, in no fixed order
    assert sorted(written) == sorted([*pipeline.sink_names(pipeline.PipeConf()),
                                      "_metrics"])
    assert os.listdir(out) == ["_es_mapping.json"]
