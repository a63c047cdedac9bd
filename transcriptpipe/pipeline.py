"""End-to-end pipeline: one chain of named layers, the same for every
entry point (``build``, ``run``, ``jvm_stage_frame``, ``rendered_frame``):

    enrich → exchange → render → stage → sinks

1. ``enrich``    narrow: null text → '', role and tool names from two
                 broadcast dictionary joins (enrich.enrich; one
                 whole-stage-codegen span, no shuffle of the fact table)
2. ``exchange``  the ONE shuffle of the fact table: flat raw turns, those
                 at or beyond the turn cap as bare (conv_id, turn_idx)
                 markers, repartitioned on conv_id with no fixed count
                 (AQE coalesces it by the bytes the render uses, down to
                 the session's floor), then a
                 Tungsten sortWithinPartitions(conv_id, turn_idx) — binary
                 and spillable, no per-group JVM object state
3. ``render``    engine "arrow" (default): one mapInPandas pass over the
                 sorted stream (arrow_docs + fastkernel) that tokenizes,
                 coalesces, caps, trims and renders JSON + XML per
                 conversation. Engine "sql": relational.py, all JVM, with its
                 own conv_id exchange. Both emit arrow_docs.DOC_SCHEMA.
4. ``stage``     ``build`` leaves the rendered frame a lazy plan; ``run``
                 stages it once to parquet (``stage_dir``) or persists it,
                 so the sinks it commits are projections, not
                 recomputations, and releases it once every write is done
5. ``sinks``     one frame per ``sink_names``: json_doc / xml_doc / error /
                 raw, S6 doc batching, then F8 fold re-rendering

``run`` then adds ``metrics_frame`` (the projected sinks counted in one
aggregate over the staged frame, the others over their own frames) and
commits every table in one concurrent wave, one writer thread per table
(aushape writes each output through its own vtable, lib/output.c:26-99).

Skew (north_rule requirement): a hot conversation is bounded by
``max_turns_per_conv`` (aushape's max_event_size trim, format.h:60-63). It
crosses the exchange with at most ``cap`` full rows; the rest are bare
markers. The arrow render caps inside the sorted pass (arrow_docs.cap_rows)
— rows are consecutive per conversation there, so the bound needs no
pre-aggregation; the sql render caps with ``cap_turns`` before its grouped
aggregation. Per task, the arrow render holds one in-flight conversation of
at most cap + 1 rows.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace
from functools import reduce

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import arrow_docs, docbatch, relational, route
from .enrich import enrich
from .render import TIME_FMT, prettify_json, prettify_xml
from .sinks import SinkCatalog

ENGINES = ("arrow", "sql")

@dataclass
class PipeConf:
    max_doc_bytes: int | None = 8192
    max_turns_per_conv: int = 2048
    with_text: bool = True  # --with-text analog (P5): include text[] in docs
    with_norm: bool = False
    """--with-norm analog: include the normalized summary section (norm{})
    in each event doc (ref lib/conv_buf.c:185-353; oracle.norm_object)."""
    persist: bool = False
    """Persist the rendered docs (MEMORY_AND_DISK) so sinks materialized as
    separate actions don't each recompute enrich+exchange+render; the
    caller releases the cache with ``SinkFrames.staged.unpersist()``. Read
    only by ``build`` (through ``stage``): ``run`` decides for itself — it
    stages under a SinkCatalog and persists only for a catalog it cannot
    stage under."""
    stage_dir: str | None = None
    """If set, the rendered doc frame is written once to this parquet path
    and every sink becomes a cheap projection of the staged table. Measured
    (11M turns, local[32]): compute 23.5s + parquet stage ~6s, vs +42s for
    the in-memory columnar cache build that persist=True pays. This is the
    cluster pattern (staging table) and makes build() eager for the staging
    write. ``run`` never deletes a ``stage_dir`` set here; left unset with a
    SinkCatalog, ``run`` stages under ``<root>/_staging/<run_id>`` and
    deletes that directory when its commit loop ends."""
    engine: str = "arrow"
    """The render layer: 'arrow' (default) assembles, trims and renders in
    ONE fused mapInPandas pass over the sorted exchange (fastkernel — the
    fastest path). 'sql' is the all-JVM relational engine (relational.py —
    windows + conditional aggregates + native string assembly; no Python
    workers). Both are byte-equal to oracle.py; any other value raises
    ValueError."""
    doc_batch: int | str | None = None
    """S6 document batching (format.h:52-59): when set, build() adds
    ``json_log`` / ``xml_log`` sinks grouping the per-event docs into
    multi-event documents with prologue/epilogue (see docbatch.py). Values:
    N>1 count mode, 1 one-event docs, 0 bare, -B byte budget, "all"."""
    langs: tuple = ("json", "xml")
    """-l/--lang analog (ref lib/conf.c:31-81): which doc languages the run
    builds AND writes. A deselected language's sinks are never constructed
    and its render work is skipped entirely (the Arrow kernel skips XML
    assembly when "xml" is absent — not just the write)."""
    fold_level: int | None = None
    """--fold analog (F8, ref lib/conf.c:43-70 / gbuf.c:242-280): None
    keeps the canonical compact docs (the comparison target); an int N
    re-renders json_doc/xml_doc with nesting levels <= N unfolded one per
    line (0 == --fold=all == compact; a huge N == --fold=none == fully
    unfolded). Presentation-only; batched log sinks stay compact."""
    indent: int = 4
    """--indent analog (spaces per nesting level when folding; reference
    default 4, lib/conf.c:183-190)."""

    def __post_init__(self):
        # arrow_docs.cap_rows keeps each conversation's first row at or
        # beyond the cap only as its trimmed marker: below 1 that is every
        # conversation's only row, and every doc would vanish without error
        if self.max_turns_per_conv < 1:
            raise ValueError(f"max_turns_per_conv must be at least 1 "
                             f"(got {self.max_turns_per_conv})")


def cap_turns(df: DataFrame, cap: int) -> tuple[DataFrame, DataFrame]:
    """Narrow per-conv turn cap + tiny frame of capped conv_ids — the sql
    render's bound on its grouped aggregation (the arrow render caps inside
    its sorted pass instead). turn_idx is already the per-conv position, so
    the cap itself is a filter; the capped ids come from a map-side-combined
    ``max(turn_idx)`` and broadcast back to mark those docs ``trimmed``."""
    capped = (
        df.groupBy("conv_id")
        .agg(F.max("turn_idx").alias("_max_turn"))
        .filter(F.col("_max_turn") >= cap)
        .select("conv_id", F.lit(True).alias("turn_capped"))
    )
    return df.filter(F.col("turn_idx") < cap), capped


def check_unique_turns(transcripts: DataFrame) -> DataFrame:
    """Validation frame for the (conv_id, turn_idx) primary-key contract
    (schemas.TRANSCRIPTS): one row per duplicated key with its count. Empty
    ⇔ the input honours the contract. One shuffle on the same key the
    pipeline aggregates on; run it as a pre-flight action only when the
    producer of the input table is untrusted — the pipeline itself stays
    lazy and does not pay this scan."""
    return (
        transcripts.groupBy("conv_id", "turn_idx")
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def exchange(enriched: DataFrame, cap: int) -> DataFrame:
    """The exchange layer: the render kernel's columns, repartitioned on
    conv_id and sorted by (conv_id, turn_idx) within each partition — the
    shape arrow_docs.render_docs_sorted consumes.

    A row at or beyond the turn cap ``cap`` crosses as a bare marker: only
    conv_id and turn_idx, every other column null. The render keeps at most
    one such row per conversation, and only to mark its doc trimmed
    (arrow_docs.cap_rows), so but for those markers the bytes shuffled are
    the bytes rendered. The repartition names no count: it starts at
    ``spark.sql.shuffle.partitions`` and AQE coalesces it by those bytes,
    so a small input renders in a few Python tasks, not a fixed multiple
    of the cores. A large input keeps at least
    ``spark.sql.adaptive.coalescePartitions.minPartitionNum`` partitions
    (``get_spark`` sets it to the starting count, two per core), so a hot
    conversation's task is not the tail of a half-empty wave."""
    live = F.col("turn_idx") < cap
    return (
        enriched.select(*(c if c in ("conv_id", "turn_idx")
                          else F.when(live, F.col(c)).alias(c)
                          for c in arrow_docs.SORTED_COLS))
        .repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
    )


def render(enriched: DataFrame, conf: PipeConf) -> DataFrame:
    """The render layer: enriched turns → one doc row per conversation
    (arrow_docs.DOC_SCHEMA: envelope, JSON doc, XML doc, row errors)."""
    if conf.engine not in ENGINES:
        raise ValueError(f"unknown engine {conf.engine!r}; expected one of {ENGINES}")
    if conf.engine == "sql":
        fact, capped_convs = cap_turns(enriched, conf.max_turns_per_conv)
        return relational.render_docs_relational(
            fact.join(F.broadcast(capped_convs), "conv_id", "left"),
            max_doc_bytes=conf.max_doc_bytes,
            with_text=conf.with_text,
            with_norm=conf.with_norm,
            want_xml="xml" in conf.langs,
        )
    return arrow_docs.render_docs_sorted(
        exchange(enriched, conf.max_turns_per_conv), conf)


def stage(rendered: DataFrame, conf: PipeConf) -> DataFrame:
    """The stage layer: every sink derives from the rendered frame (row
    errors travel on the doc row), so render must run once even though the
    sinks are materialized as separate actions. With ``stage_dir`` the frame
    is written there (eager) and read back with the schema it was written
    with, so no schema-inference job runs (Spark reads a parquet table
    all-nullable either way); with ``persist`` it is cached; else it stays
    a lazy plan. ``run`` removes the staging it derives and releases a
    persisted frame when it is done."""
    if conf.stage_dir:
        # staging is transient per-run scratch read a handful of times
        # and discarded — cheap codec (lz4) beats the session's durable
        # zstd here (measured: stage-write 6.3s zstd vs 4.1s lz4, sink
        # projections 1.5s vs 0.6s at 1.1M turns); the real sinks keep
        # the session codec through catalog.write
        (rendered.write.mode("overwrite")
         .option("compression", "lz4").parquet(conf.stage_dir))
        return (rendered.sparkSession.read.schema(rendered.schema)
                .parquet(conf.stage_dir))
    if conf.persist:
        return rendered.persist(StorageLevel.MEMORY_AND_DISK)
    return rendered


class SinkFrames(dict):
    """The sinks layer's result: sink frames by name, in ``sink_names``
    order, and ``staged``, the stage-layer frame they all derive from. With
    the default conf ``staged`` is a lazy plan and nothing needs releasing;
    a caller that set ``persist`` releases it with ``staged.unpersist()``.
    ``projected`` names the sinks that are plain projections of ``staged``
    (one row per conversation), which ``metrics_frame`` counts in one
    aggregate over it."""

    def __init__(self, staged: DataFrame):
        super().__init__()
        self.staged = staged
        self.projected: set[str] = set()


def sink_names(conf: PipeConf) -> list[str]:
    """The sink tables a run builds and commits, in commit order: each
    selected language's per-event doc sink, ``error``, ``raw``, then with
    ``doc_batch`` each selected language's S6 log sink."""
    langs = [lang for lang in ("json", "xml") if lang in conf.langs]
    logs = [f"{lang}_log" for lang in langs] if conf.doc_batch is not None else []
    return [f"{lang}_doc" for lang in langs] + ["error", "raw"] + logs


# each language's doc body column in arrow_docs.DOC_SCHEMA
DOC_BODY = {"json": "doc", "xml": "xml"}


def doc_sink_columns(lang: str) -> list[str | Column]:
    """A language's per-event doc-sink row over an ``arrow_docs.DOC_SCHEMA``
    frame: the envelope, that language's body as ``doc``, ``trimmed`` and
    ``error``. The batch ``json_doc``/``xml_doc`` sinks and the stream sink
    (streaming.run_stream_once) both select it."""
    return ["conv_id", "doc_id", "serial", "time", "n_turns",
            F.col(DOC_BODY[lang]).alias("doc"), "trimmed", "error"]


def sinks(rendered: DataFrame, transcripts: DataFrame, conf: PipeConf
          ) -> SinkFrames:
    """The sinks layer, one frame per ``sink_names(conf)``: per-language
    doc projections (``doc_sink_columns``), the error sink, the raw
    passthrough of the un-normalized input, S6 log docs batched from the
    canonical compact docs, then the optional F8 fold/indent re-render of
    the per-event doc sinks (the log sinks stay compact)."""
    out = SinkFrames(rendered)
    for name in sink_names(conf):
        if name.endswith("_doc"):
            out[name] = rendered.select(*doc_sink_columns(name.removesuffix("_doc")))
            out.projected.add(name)
        elif name.endswith("_log"):
            lang = name.removesuffix("_log")
            out[name] = docbatch.batch_documents(
                out[f"{lang}_doc"], events_per_doc=conf.doc_batch, fmt=lang)
        elif name == "error":
            out[name] = route.error_sink(rendered)
            out.projected.add(name)
        else:
            out[name] = route.raw_sink(transcripts)
    if conf.fold_level is not None:
        for name, pretty in (("json_doc", prettify_json), ("xml_doc", prettify_xml)):
            if name in out:
                out[name] = pretty(out[name], conf.indent, conf.fold_level)
                out.projected.discard(name)
    return out


def build(spark: SparkSession, transcripts: DataFrame, conf: PipeConf | None = None
          ) -> SinkFrames:
    """Build all sink DataFrames: enrich → render → stage → sinks. Lazy and
    cached nowhere with the default conf; ``conf.stage_dir`` makes the
    staging write run here, ``conf.persist`` caches the rendered frame."""
    conf = conf or PipeConf()
    rendered = stage(render(enrich(transcripts, spark), conf), conf)
    return sinks(rendered, transcripts, conf)


def rendered_frame(spark: SparkSession, transcripts: DataFrame,
                   conf: PipeConf | None = None) -> DataFrame:
    """The enrich → render prefix of ``build``: the rendered doc frame (doc
    + xml + errors + envelope) — everything every sink needs, computed once
    with no materialization. Used by the scaling harness and perfbench's
    prefix probes: on one host the sink writes hit a shared disk that a real
    4N cluster would scale, so the CPU-scaling evidence times this frame's
    computation."""
    return render(enrich(transcripts, spark), conf or PipeConf())


def jvm_stage_frame(spark: SparkSession, transcripts: DataFrame) -> DataFrame:
    """The enrich → exchange prefix of the default pipeline — scan → two
    broadcast dict joins → repartition(conv_id) → Tungsten
    sortWithinPartitions — WITHOUT the Python render stage. Used by the
    scaling harness to separate plan scaling from single-host
    memory-bandwidth effects: if this stage scales across core counts while
    the full pipeline does not, the gap is Python-worker/host bandwidth, not
    plan serialization."""
    return exchange(enrich(transcripts, spark), PipeConf().max_turns_per_conv)


def run(spark: SparkSession, transcripts: DataFrame, catalog, run_id: str,
        conf: PipeConf | None = None, source_snapshot: str | None = None) -> dict:
    """End-to-end committed run of the tables ``sink_names(conf)`` plus
    ``_metrics``. Returns {table: snapshot|None} in that order.

    Committed set first: if every table is committed for ``run_id``, nothing
    is built and no Spark job starts. Otherwise it builds the sinks and
    commits every table in one concurrent wave: one thread per table calls
    ``catalog.write``, which skips a table already committed for
    ``run_id``; ``metrics_frame`` is planned while the sinks are written
    and joins the wave as the last table. Each thread inherits the caller's
    Spark job group, local properties and tags, so every job of the run is
    accounted to the caller. The run waits for every write to settle and
    then raises the first failure in table order, so one failed table never
    hides what the others committed. ``_metrics`` is not the last commit: a
    run that dies may leave it committed beside a missing sink, and resume
    covers that like any other missing table.
    Exactly-once: re-running a killed run's run_id re-renders and writes
    only the missing tables. Readers go through catalog.read(), which sees
    only manifest-committed files.

    The run renders once and owns that materialization: with a SinkCatalog
    and no ``conf.stage_dir`` it stages under ``<root>/_staging/<run_id>``
    and deletes that once every writer has finished, on the all-committed
    path too (clearing what a crashed run left); a caller's ``stage_dir`` is
    used and never deleted; with neither it persists the rendered frame and
    releases it once every writer has finished.
    """
    conf = conf or PipeConf()
    owned_stage = None
    if conf.stage_dir is None:
        if isinstance(catalog, SinkCatalog):
            # stage the rendered frame under the warehouse so the sink
            # writes are projections, not recomputations
            owned_stage = os.path.join(catalog.root, "_staging", run_id)
            conf = replace(conf, stage_dir=owned_stage)
        else:
            # an IcebergCatalog's root is a table namespace, not a path:
            # cache instead (or set conf.stage_dir to a staging location)
            conf = replace(conf, persist=True)
    tables = [*sink_names(conf), "_metrics"]
    frames = None
    try:
        if all(catalog.committed(run_id, t) for t in tables):
            return dict.fromkeys(tables)
        frames = build(spark, transcripts, conf)
        # leaving the block waits for every write, failed or not
        with ThreadPoolExecutor(len(tables)) as pool:
            def submit(table, df):
                # each wrapper copies the caller's local properties, so a
                # writer that changes one (a job group) changes only its own
                write = inheritable_thread_target(spark)(catalog.write)
                return pool.submit(write, df, table, run_id, source_snapshot)

            futures = {t: submit(t, frames[t]) for t in tables[:-1]}
            # planned while the sinks are written: building its plan takes
            # 0.1-0.2 s of driver round trips to the JVM
            futures["_metrics"] = submit("_metrics", metrics_frame(frames, run_id))
        return {t: f.result() for t, f in futures.items()}
    finally:
        if frames is not None:
            frames.staged.unpersist()
        if owned_stage:
            shutil.rmtree(owned_stage, ignore_errors=True)


def _metric_row(sink: str, n_rows: str, n_convs: str = "NULL",
                n_convs_approx: str = "NULL", bytes_out: str = "NULL") -> str:
    """One ``_metrics`` row as a SQL struct of aggregates; a column the sink
    lacks is null. SQL text, not Column calls: each Column function is a
    driver round trip to the JVM, and a run plans these while its sinks
    are written."""
    return (f"named_struct('sink', '{sink}', "
            f"'n_rows', CAST({n_rows} AS BIGINT), "
            f"'n_convs', CAST({n_convs} AS BIGINT), "
            f"'n_convs_approx', CAST({n_convs_approx} AS BIGINT), "
            f"'bytes_out', CAST({bytes_out} AS BIGINT))")


def _staged_row(sink: str) -> str:
    """A ``SinkFrames.projected`` sink's ``_metrics`` row as aggregates over
    the staged frame, which holds one row per conversation: a doc sink's
    conversations are its rows, the error sink's are the docs that carry an
    error, and the HLL sketch sees the same key set as over the sink."""
    if sink == "error":
        n_errs = f"size({route.doc_errors()})"
        return _metric_row(sink, f"coalesce(sum({n_errs}), 0)",
                           f"count_if({n_errs} > 0)",
                           f"approx_count_distinct(IF({n_errs} > 0, conv_id, NULL))")
    body = DOC_BODY[sink.removesuffix("_doc")]
    return _metric_row(sink, "count(*)", "count(conv_id)",
                       "approx_count_distinct(conv_id)",
                       f"sum(octet_length({body}))")


def _frame_row(sink: str, df: DataFrame) -> str:
    """Any other sink's ``_metrics`` row as aggregates over its own frame."""
    row = {"n_rows": "count(*)"}
    if "conv_id" in df.columns:
        row.update(n_convs="count(DISTINCT conv_id)",
                   n_convs_approx="approx_count_distinct(conv_id)")
    if "doc" in df.columns:
        row["bytes_out"] = "sum(octet_length(doc))"
    return _metric_row(sink, **row)


def metrics_frame(sinks: SinkFrames, run_id: str) -> DataFrame:
    """Per-sink aggregate counts (A6), one row per sink, as dataframe
    aggregates — accumulators are unreliable under task retries (SURVEY.md
    §4.2.4). Rows come from as few scans as the sinks allow:

    * every ``SinkFrames.projected`` sink (``json_doc``/``xml_doc`` without
      a fold, ``error``): ONE global aggregate over ``sinks.staged``, so
      ``n_convs`` is a count, not a DISTINCT;
    * every other sink (``raw``, whose exact count_distinct over the input
      is the one scan that cannot be avoided; the S6 logs; folded docs):
      one aggregate over its own frame.

    ``n_convs_approx`` (A7) is the HLL++ sketch count — at 10^12 rows the
    exact count_distinct pays a full shuffle of the distinct keys while the
    sketch merges map-side; both are emitted so the exact column can be
    dropped at scale."""
    staged_rows = [_staged_row(n) for n in sinks if n in sinks.projected]
    groups = [(sinks.staged, staged_rows)] if staged_rows else []
    groups += [(df, [_frame_row(n, df)]) for n, df in sinks.items()
               if n not in sinks.projected]
    parts = [df.selectExpr(f"inline(array({', '.join(rows)}))")
             for df, rows in groups]
    return reduce(DataFrame.unionByName, parts).select(
        F.lit(run_id).alias("run_id"), "sink", "n_rows", "n_convs",
        "n_convs_approx", "bytes_out",
        F.date_format(F.current_timestamp(), TIME_FMT).alias("committed_at"),
    )
