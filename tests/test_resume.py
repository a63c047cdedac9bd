"""M6 resume/checkpoint tests: kill-between-sinks → re-run is exactly-once.

The reference has no resumability (process restart reprocesses input,
SURVEY.md §2.9); this is a north_rule requirement, so the tests define the
contract: snapshot-committed sinks, idempotent re-runs keyed by run_id,
per-partition lineage in the manifest.
"""

from __future__ import annotations

import os

import pytest

from transcriptpipe import pipeline
from transcriptpipe.sinks import SinkCatalog


@pytest.fixture()
def catalog(tmp_path):
    return SinkCatalog(root=str(tmp_path / "warehouse"))


def test_full_run_commits_all_sinks(spark, tiny_df, catalog):
    res = pipeline.run(spark, tiny_df, catalog, run_id="r1")
    for name in ("json_doc", "xml_doc", "error", "raw", "_metrics"):
        assert res[name] is not None, name
        assert catalog.committed("r1", name)
    # lineage present and consistent
    snap = catalog.manifest("json_doc")["snapshots"][0]
    assert snap["n_rows"] == sum(p["n_rows"] for p in snap["partition_lineage"])
    assert catalog.read(spark, "json_doc").count() == snap["n_rows"]


def test_kill_and_resume_exactly_once(spark, tiny_df, catalog):
    # simulate a run killed after the first two sinks committed
    frames = pipeline.build(spark, tiny_df)
    catalog.write(frames["json_doc"], "json_doc", "r2")
    catalog.write(frames["error"], "error", "r2")
    pre = catalog.total_rows("json_doc")

    # resume: same run_id — only missing sinks get written
    res = pipeline.run(spark, tiny_df, catalog, run_id="r2")
    assert res["json_doc"] is None and res["error"] is None  # skipped
    assert res["xml_doc"] is not None and res["raw"] is not None

    # exactly-once: no duplicate rows in the already-committed sink
    assert catalog.total_rows("json_doc") == pre
    assert len(catalog.manifest("json_doc")["snapshots"]) == 1


def test_distinct_runs_append(spark, tiny_df, catalog):
    pipeline.run(spark, tiny_df, catalog, run_id="a")
    pipeline.run(spark, tiny_df, catalog, run_id="b")
    m = catalog.manifest("raw")
    assert [s["run_id"] for s in m["snapshots"]] == ["a", "b"]
    assert catalog.read(spark, "raw").count() == 2 * tiny_df.count()


def test_metrics_match_sink_counts(spark, tiny_df, catalog):
    pipeline.run(spark, tiny_df, catalog, run_id="m1")
    metrics = {
        r["sink"]: r["n_rows"]
        for r in catalog.read(spark, "_metrics").collect()
    }
    for name in ("json_doc", "xml_doc", "error", "raw"):
        assert metrics[name] == catalog.total_rows(name), name


def test_relative_root_stages_and_persists_nothing(spark, tiny_df, tmp_path,
                                                   monkeypatch):
    """The CLI's ``-O out`` builds SinkCatalog("out"): a relative root is a
    path-rooted catalog too, so the run stages the rendered frame under it
    and leaves no persisted frame in the session."""
    monkeypatch.chdir(tmp_path)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    res = pipeline.run(spark, tiny_df, SinkCatalog("out"), run_id="rel")
    assert res["json_doc"] is not None
    assert os.listdir(tmp_path / "out" / "_staging" / "rel")
    assert persistent().size() == before


# (name, type, nullable) of every committed sink, as Spark wrote them into
# the parquet footers. The doc sinks are projections of the staged parquet
# table, which Spark reads back all-nullable.
_DOC_SINK = [("conv_id", "string", True), ("doc_id", "bigint", True),
             ("serial", "bigint", True), ("time", "string", True),
             ("n_turns", "int", True), ("doc", "string", True),
             ("trimmed", "boolean", True), ("error", "string", True)]
COMMITTED_SCHEMAS = {
    "json_doc": _DOC_SINK,
    "xml_doc": _DOC_SINK,
    "error": [("conv_id", "string", True), ("turn_idx", "int", True),
              ("error_code", "string", True), ("text", "string", True)],
    "raw": [("conv_id", "string", False), ("turn_idx", "int", False),
            ("role", "string", False), ("text", "string", True),
            ("tool", "string", True), ("ts", "timestamp", False)],
    "_metrics": [("run_id", "string", False), ("sink", "string", False),
                 ("n_rows", "bigint", False), ("n_convs", "bigint", False),
                 ("n_convs_approx", "bigint", False),
                 ("bytes_out", "bigint", True),
                 ("committed_at", "string", False)],
}


def test_committed_sink_schemas(spark, tiny_df, catalog):
    import json

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    pipeline.run(spark, tiny_df, catalog, run_id="s1")
    for table, want in COMMITTED_SCHEMAS.items():
        for f in catalog.manifest(table)["snapshots"][0]["files"]:
            meta = pq.read_schema(os.path.join(catalog.root, table, f)).metadata
            st = T.StructType.fromJson(json.loads(
                meta[b"org.apache.spark.sql.parquet.row.metadata"]))
            got = [(x.name, x.dataType.simpleString(), x.nullable) for x in st.fields]
            assert got == want, (table, f)
