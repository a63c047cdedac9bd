"""M6 resume/checkpoint tests: kill-between-sinks → re-run is exactly-once.

The reference has no resumability (process restart reprocesses input,
SURVEY.md §2.9); this is a north_rule requirement, so the tests define the
contract: snapshot-committed sinks, idempotent re-runs keyed by run_id,
per-partition lineage in the manifest.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

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


def test_exchange_is_sized_by_its_data(spark, tiny_df, catalog):
    """The conv_id exchange names no partition count: AQE coalesces a
    small input's render into one task, so each doc sink's snapshot is one
    data file, not one per fixed exchange partition."""
    pipeline.run(spark, tiny_df, catalog, run_id="s")
    for name in ("json_doc", "xml_doc"):
        [snap] = catalog.manifest(name)["snapshots"]
        assert len(snap["files"]) == 1, (name, snap["files"])


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


@pytest.mark.parametrize("conf", [
    pipeline.PipeConf(),
    pipeline.PipeConf(langs=("json",)),
    pipeline.PipeConf(fold_level=1),
    pipeline.PipeConf(doc_batch=3),
], ids=["default", "json_only", "fold_level_1", "doc_batch_3"])
def test_metrics_match_sink_counts(spark, tiny_df, catalog, conf):
    """Every numeric ``_metrics`` column equals the same aggregate computed
    from the committed table itself, null where the table lacks the
    column: one row per committed sink."""
    res = pipeline.run(spark, tiny_df, catalog, run_id="m1", conf=conf)
    metrics = {r["sink"]: r.asDict() for r in catalog.read(spark, "_metrics").collect()}
    assert list(res) == [*pipeline.sink_names(conf), "_metrics"]
    assert sorted(metrics) == sorted(pipeline.sink_names(conf))
    for name, got in metrics.items():
        df = catalog.read(spark, name)
        conv, doc = "conv_id" in df.columns, "doc" in df.columns
        want = df.agg(
            F.count("*").alias("n_rows"),
            (F.count_distinct("conv_id") if conv else F.lit(None)).alias("n_convs"),
            (F.approx_count_distinct("conv_id") if conv else F.lit(None)).alias("n_convs_approx"),
            (F.sum(F.octet_length("doc")) if doc else F.lit(None)).alias("bytes_out"),
        ).first().asDict()
        assert {k: got[k] for k in want} == want, name
        assert want["n_rows"] == catalog.total_rows(name), name


def test_relative_root_stages_and_persists_nothing(spark, tiny_df, tmp_path,
                                                   monkeypatch):
    """The CLI's ``-O out`` builds SinkCatalog("out"): a relative root is a
    path-rooted catalog too, so the run stages the rendered frame under it,
    deletes that staging once the sinks are committed, and leaves no
    persisted frame in the session."""
    monkeypatch.chdir(tmp_path)
    stage, staged = pipeline.stage, []

    def recording_stage(rendered, conf):
        out = stage(rendered, conf)
        staged.append((conf.stage_dir, os.listdir(conf.stage_dir)))
        return out

    monkeypatch.setattr(pipeline, "stage", recording_stage)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    res = pipeline.run(spark, tiny_df, SinkCatalog("out"), run_id="rel")
    assert res["json_doc"] is not None
    [(stage_dir, files)] = staged
    assert stage_dir == str(tmp_path / "out" / "_staging" / "rel") and files
    assert not os.path.exists(stage_dir)
    assert persistent().size() == before


class MemoryCatalog:
    """A catalog that is not a SinkCatalog (as IcebergCatalog is not): the
    committed rows are kept in memory."""

    def __init__(self):
        self.tables = {}

    def committed(self, run_id, table):
        return (run_id, table) in self.tables

    def write(self, df, table, run_id, source_snapshot=None):
        if self.committed(run_id, table):
            return None
        self.tables[run_id, table] = df.collect()
        return {"run_id": run_id, "n_rows": len(self.tables[run_id, table])}


def test_other_catalog_persists_nothing(spark, tiny_df):
    """With no path to stage under, the run persists the rendered frame
    for its sink writes and releases it once they are done."""
    # an input no other test runs: Spark keys its cache by plan, so a frame
    # another test left persisted would otherwise be this run's cache entry
    src = tiny_df.where(F.col("turn_idx") >= 0)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    catalog = MemoryCatalog()
    res = pipeline.run(spark, src, catalog, run_id="mem")
    assert all(res.values()) and len(catalog.tables) == 5
    assert persistent().size() == before


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_build_caches_nothing(spark, tiny_df):
    """With the default conf ``build`` is a lazy plan: writing two of its
    sinks leaves no persisted frame and json_doc reads no cache."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    frames = pipeline.build(spark, tiny_df)
    for name in ("json_doc", "error"):
        frames[name].write.format("noop").mode("overwrite").save()
    assert persistent().size() == before
    assert "InMemoryRelation" not in _optimized(frames["json_doc"])


def test_run_without_a_path_renders_once(spark, tiny_df):
    """A catalog with no path to stage under gets sink frames that all read
    one persisted render, released when the run ends."""
    plans = {}

    class PlanCatalog(MemoryCatalog):
        def write(self, df, table, run_id, source_snapshot=None):
            plans[table] = _optimized(df)
            return super().write(df, table, run_id, source_snapshot)

    # an input no other test runs, so no other frame is its cache entry
    src = tiny_df.where(F.col("turn_idx") < 1 << 30)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    pipeline.run(spark, src, PlanCatalog(), run_id="once")
    for name in ("json_doc", "xml_doc", "error", "_metrics"):
        assert "InMemoryRelation" in plans[name], name
    assert persistent().size() == before


def test_caller_stage_dir_is_kept(spark, tiny_df, catalog, tmp_path):
    stage_dir = str(tmp_path / "my_stage")
    conf = pipeline.PipeConf(stage_dir=stage_dir)
    pipeline.run(spark, tiny_df, catalog, run_id="k", conf=conf)
    assert os.listdir(stage_dir)
    assert not os.path.exists(os.path.join(catalog.root, "_staging", "k"))


# Spark jobs of one fresh committed run of the default pipeline: the
# staging write with its two dictionary broadcasts and its exchange, four
# sink writes, and _metrics (its write plus three exchanges: one over the
# staged docs, two for raw's exact count_distinct). A later change that
# removes jobs lowers this pin.
FRESH_RUN_JOBS = 12


def test_job_counts(spark, tiny_df, catalog, jobs):
    """A fresh run takes at most the pinned job count, and at least one
    write job per committed table plus the staging write in the caller's
    job group (a writer thread that lost the group would drop its jobs
    from the count); a re-run of its committed run_id returns the same
    keys, all None, and starts no job."""
    def run():
        return pipeline.run(spark, tiny_df, catalog, run_id="j")

    n_fresh, fresh = jobs(run)
    assert len(fresh) + 1 <= n_fresh <= FRESH_RUN_JOBS
    n_again, again = jobs(run)
    assert n_again == 0
    assert list(again) == list(fresh) and not any(again.values())


TABLES = ("json_doc", "xml_doc", "error", "raw", "_metrics")


def _rows(spark, catalog, table):
    df = catalog.read(spark, table)
    if table == "_metrics":
        df = df.drop("committed_at")
    return Counter(df.collect())


@pytest.fixture(scope="module")
def clean(spark, tiny_df, tmp_path_factory):
    cat = SinkCatalog(root=str(tmp_path_factory.mktemp("clean")))
    pipeline.run(spark, tiny_df, cat, run_id="f")
    return {t: _rows(spark, cat, t) for t in TABLES}


class Injected(Exception):
    pass


@pytest.mark.parametrize("point", ["before_data", "before_commit"])
@pytest.mark.parametrize("table", TABLES)
def test_fault_injection_resume(spark, tiny_df, catalog, clean, monkeypatch,
                                table, point):
    """A run that dies inside SinkCatalog.write for ``table`` (before its
    data write, or after its data files are written but before the manifest
    commit) still commits every other table, since all are written in one
    concurrent wave; the resume under the same run_id writes only
    ``table``, and ends with exactly the clean run's tables: one snapshot
    each, the other commits untouched, no staging left."""
    write, commit = SinkCatalog.write, SinkCatalog._commit

    def faulty_write(self, df, name, *a, **k):
        if name == table and point == "before_data":
            raise Injected(name)
        return write(self, df, name, *a, **k)

    def faulty_commit(self, name, snapshot):
        if name == table and point == "before_commit":
            raise Injected(name)
        return commit(self, name, snapshot)

    with monkeypatch.context() as m:
        m.setattr(SinkCatalog, "write", faulty_write)
        m.setattr(SinkCatalog, "_commit", faulty_commit)
        with pytest.raises(Injected):
            pipeline.run(spark, tiny_df, catalog, run_id="f")
    done = [t for t in TABLES if t != table]
    assert [t for t in TABLES if catalog.committed("f", t)] == done
    before = {t: catalog.manifest(t) for t in done}

    res = pipeline.run(spark, tiny_df, catalog, run_id="f")
    assert [t for t in TABLES if res[t] is not None] == [table]
    for t in TABLES:
        assert _rows(spark, catalog, t) == clean[t], t
        assert len(catalog.manifest(t)["snapshots"]) == 1, t
    assert {t: catalog.manifest(t) for t in done} == before
    assert not os.path.exists(os.path.join(catalog.root, "_staging", "f"))


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
