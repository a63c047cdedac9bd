"""End-to-end pipeline: one chain of named layers, the same for every
entry point (``build``, ``run``, ``jvm_stage_frame``, ``rendered_frame``):

    enrich → exchange → render → stage → sinks

1. ``enrich``    narrow: null text → '', role and tool names from two
                 broadcast dictionary joins (enrich.enrich; one
                 whole-stage-codegen span, no shuffle of the fact table)
2. ``exchange``  the ONE shuffle of the fact table: flat raw turns
                 repartitioned on conv_id, then a Tungsten
                 sortWithinPartitions(conv_id, turn_idx) — binary and
                 spillable, no per-group JVM object state
3. ``render``    engine "arrow" (default): one mapInPandas pass over the
                 sorted stream (arrow_docs + fastkernel) that tokenizes,
                 coalesces, caps, trims and renders JSON + XML per
                 conversation. Engine "sql": relational.py, all JVM, with its
                 own conv_id exchange. Both emit arrow_docs.DOC_SCHEMA.
4. ``stage``     the rendered frame is written once to parquet
                 (``stage_dir``) or persisted, so the sinks below are
                 projections, not recomputations
5. ``sinks``     fan-out to json_doc / xml_doc / error / raw, then S6 doc
                 batching and F8 fold re-rendering (``_finish_sinks``)

Skew (north_rule requirement): a hot conversation is bounded by
``max_turns_per_conv`` (aushape's max_event_size trim, format.h:60-63). The
arrow render drops beyond-cap rows inside the sorted pass — rows are
consecutive per conversation there, so the bound needs no pre-aggregation;
the sql render caps with ``cap_turns`` before its grouped aggregation. Per
task, the arrow render holds one in-flight conversation of at most cap rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import arrow_docs, relational, route
from .enrich import enrich
from .render import TIME_FMT, prettify_json, prettify_xml

ENGINES = ("arrow", "sql")

# tasks per core in the exchange: waves pack tightly and a skewed
# (hot-conversation) partition costs 1/4 core-slot, not a straggler wave.
# Event-log measured: 47 auto partitions on 32 cores = 1.5 waves with a 14s
# max task; 4x parallelism cuts wall ~25% (see BENCH/BASELINE.md)
PART_MULT = 4


@dataclass
class PipeConf:
    events_per_doc: int = 100
    max_doc_bytes: int | None = 8192
    max_turns_per_conv: int = 2048
    with_text: bool = True  # --with-text analog (P5): include text[] in docs
    with_norm: bool = False
    """--with-norm analog: include the normalized summary section (norm{})
    in each event doc (ref lib/conv_buf.c:185-353; oracle.norm_object)."""
    persist: bool = True
    """Persist the rendered docs (MEMORY_AND_DISK) so the four sinks don't
    each recompute enrich+exchange+render when they are materialized as
    separate actions. At cluster scale the same role is played by a staging
    table; the flag exists so single-sink runs skip it."""
    stage_dir: str | None = None
    """If set, the rendered doc frame is written once to this parquet path
    and every sink becomes a cheap projection of the staged table. Measured
    (11M turns, local[32]): compute 23.5s + parquet stage ~6s, vs +42s for
    the in-memory columnar cache build that persist=True pays. This is the
    cluster pattern (staging table) and makes build() eager for the staging
    write."""
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


def exchange(enriched: DataFrame) -> DataFrame:
    """The exchange layer: the render kernel's columns, repartitioned on
    conv_id and sorted by (conv_id, turn_idx) within each partition — the
    shape arrow_docs.render_docs_sorted consumes."""
    n_parts = enriched.sparkSession.sparkContext.defaultParallelism * PART_MULT
    return (
        enriched.select(*arrow_docs.SORTED_COLS)
        .repartition(n_parts, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
    )


def render(enriched: DataFrame, conf: PipeConf) -> DataFrame:
    """The render layer: enriched turns → one doc row per conversation
    (arrow_docs.DOC_SCHEMA: envelope, JSON doc, XML doc, row errors)."""
    if conf.engine not in ENGINES:
        raise ValueError(f"unknown engine {conf.engine!r}; expected one of {ENGINES}")
    want_xml = "xml" in conf.langs
    if conf.engine == "sql":
        fact, capped_convs = cap_turns(enriched, conf.max_turns_per_conv)
        return relational.render_docs_relational(
            fact.join(F.broadcast(capped_convs), "conv_id", "left"),
            max_doc_bytes=conf.max_doc_bytes,
            events_per_doc=conf.events_per_doc,
            with_text=conf.with_text,
            with_norm=conf.with_norm,
            want_xml=want_xml,
        )
    return arrow_docs.render_docs_sorted(
        exchange(enriched),
        max_doc_bytes=conf.max_doc_bytes,
        events_per_doc=conf.events_per_doc,
        with_text=conf.with_text,
        with_norm=conf.with_norm,
        max_turns_per_conv=conf.max_turns_per_conv,
        want_xml=want_xml,
    )


def stage(rendered: DataFrame, conf: PipeConf) -> DataFrame:
    """The stage layer: every sink derives from the rendered frame (row
    errors travel on the doc row), so render must run once even though the
    sinks are materialized as separate actions. With ``stage_dir`` the frame
    is written there (eager) and read back; else it is persisted."""
    if conf.stage_dir:
        # staging is transient per-run scratch read a handful of times
        # and discarded — cheap codec (lz4) beats the session's durable
        # zstd here (measured: stage-write 6.3s zstd vs 4.1s lz4, sink
        # projections 1.5s vs 0.6s at 1.1M turns); the real sinks keep
        # the session codec through catalog.write
        (rendered.write.mode("overwrite")
         .option("compression", "lz4").parquet(conf.stage_dir))
        return rendered.sparkSession.read.parquet(conf.stage_dir)
    if conf.persist:
        return rendered.persist(StorageLevel.MEMORY_AND_DISK)
    return rendered


def sinks(rendered: DataFrame, transcripts: DataFrame, conf: PipeConf
          ) -> dict[str, DataFrame]:
    """The sinks layer: per-language doc projections, the error sink, the
    raw passthrough of the un-normalized input, then ``_finish_sinks``."""
    doc_cols = ["conv_id", "doc_id", "serial", "time", "n_turns"]
    out = {}
    if "json" in conf.langs:
        out["json_doc"] = rendered.select(*doc_cols, "doc", "trimmed", "error")
    if "xml" in conf.langs:
        out["xml_doc"] = rendered.select(
            *doc_cols, F.col("xml").alias("doc"), "trimmed", "error"
        )
    out["error"] = route.error_sink(rendered)
    out["raw"] = route.raw_sink(transcripts)
    _finish_sinks(out, conf)
    return out


def build(spark: SparkSession, transcripts: DataFrame, conf: PipeConf | None = None
          ) -> dict[str, DataFrame]:
    """Build all sink DataFrames: enrich → render → stage → sinks. Lazy
    unless ``conf.stage_dir`` is set (the staging write runs here)."""
    conf = conf or PipeConf()
    rendered = stage(render(enrich(transcripts, spark), conf), conf)
    return sinks(rendered, transcripts, conf)


def _finish_sinks(sinks: dict[str, DataFrame], conf: PipeConf) -> None:
    """Sink post-processing: S6 doc batching (from the canonical compact
    docs), then the optional F8 fold/indent re-render of the per-event doc
    sinks."""
    _add_doc_batch_sinks(sinks, conf)
    if conf.fold_level is not None:
        if "json_doc" in sinks:
            sinks["json_doc"] = prettify_json(
                sinks["json_doc"], indent=conf.indent,
                fold_level=conf.fold_level,
            )
        if "xml_doc" in sinks:
            sinks["xml_doc"] = prettify_xml(
                sinks["xml_doc"], fold_level=conf.fold_level
            )


def _add_doc_batch_sinks(sinks: dict[str, DataFrame], conf: PipeConf) -> None:
    """S6: multi-event log documents built from the per-event sinks
    (deselected languages stay deselected — ADVICE r2: --lang must skip)."""
    if conf.doc_batch is None:
        return
    from . import docbatch

    if "json_doc" in sinks:
        sinks["json_log"] = docbatch.batch_documents(
            sinks["json_doc"], events_per_doc=conf.doc_batch, fmt="json"
        )
    if "xml_doc" in sinks:
        sinks["xml_log"] = docbatch.batch_documents(
            sinks["xml_doc"], events_per_doc=conf.doc_batch, fmt="xml"
        )


def rendered_frame(spark: SparkSession, transcripts: DataFrame,
                   conf: PipeConf | None = None) -> DataFrame:
    """The enrich → render prefix of ``build``: the rendered doc frame (doc
    + xml + errors + envelope) — everything every sink needs, computed once
    with no materialization. Used by the scaling harness and perfbench's
    prefix probes: on one host the sink writes hit a shared disk that a real
    4N cluster would scale, so the CPU-scaling evidence times this frame's
    computation."""
    return render(enrich(transcripts, spark), conf or PipeConf(persist=False))


def jvm_stage_frame(spark: SparkSession, transcripts: DataFrame) -> DataFrame:
    """The enrich → exchange prefix of the default pipeline — scan → two
    broadcast dict joins → repartition(conv_id) → Tungsten
    sortWithinPartitions — WITHOUT the Python render stage. Used by the
    scaling harness to separate plan scaling from single-host
    memory-bandwidth effects: if this stage scales across core counts while
    the full pipeline does not, the gap is Python-worker/host bandwidth, not
    plan serialization."""
    return exchange(enrich(transcripts, spark))


def run(spark: SparkSession, transcripts: DataFrame, catalog, run_id: str,
        conf: PipeConf | None = None, source_snapshot: str | None = None) -> dict:
    """End-to-end committed run: build sinks, write each through the catalog
    (skipping sinks already committed for this run_id — the resume path),
    then commit the _metrics table. Returns {sink: snapshot|None}.

    Exactly-once: a killed run leaves some sinks committed; re-running the
    same run_id writes only the missing ones. Readers go through
    catalog.read(), which sees only manifest-committed files.
    """
    conf = conf or PipeConf()
    if conf.stage_dir is None and os.sep in getattr(catalog, "root", ""):
        # stage the rendered frame under the warehouse so the four sink
        # writes are projections, not recomputations (and a resumed run
        # reuses nothing stale: staging is per run_id). Path-rooted catalogs
        # only: an IcebergCatalog's root is a table namespace — set
        # conf.stage_dir explicitly (a staging table/location) there.
        conf = replace(conf, stage_dir=os.path.join(catalog.root, "_staging", run_id))
    frames = build(spark, transcripts, conf)
    results = {}
    for name, df in frames.items():
        results[name] = catalog.write(df, name, run_id, source_snapshot)
    if not catalog.committed(run_id, "_metrics"):
        m = metrics_frame(frames, run_id)
        results["_metrics"] = catalog.write(m, "_metrics", run_id, source_snapshot)
    else:
        results["_metrics"] = None
    return results


def metrics_frame(sinks: dict[str, DataFrame], run_id: str) -> DataFrame:
    """Per-sink aggregate counts (A6) as a dataframe aggregate — accumulators
    are unreliable under task retries (SURVEY.md §4.2.4).

    ``n_convs_approx`` (A7) is the HLL++ sketch count — at 10^12 rows the
    exact count_distinct pays a full shuffle of the distinct keys while the
    sketch merges map-side; both are emitted so the exact column can be
    dropped at scale."""
    parts = []
    for name, df in sinks.items():
        has_conv = "conv_id" in df.columns
        agg = df.agg(
            F.count("*").alias("n_rows"),
            (F.count_distinct("conv_id") if has_conv else F.lit(None)).alias("n_convs"),
            (F.approx_count_distinct("conv_id") if has_conv else F.lit(None)).alias("n_convs_approx"),
            (F.sum(F.octet_length("doc")) if "doc" in df.columns else F.lit(None)).alias("bytes_out"),
        ).select(
            F.lit(run_id).alias("run_id"),
            F.lit(name).alias("sink"),
            F.col("n_rows").cast("long"),
            F.col("n_convs").cast("long"),
            F.col("n_convs_approx").cast("long"),
            F.col("bytes_out").cast("long"),
            F.date_format(F.current_timestamp(), TIME_FMT).alias("committed_at"),
        )
        parts.append(agg)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def error_rollup(error_sink: DataFrame) -> DataFrame:
    """A7 cube: error counts by (error_code, has_turn) with all subtotal
    combinations — the ops-dashboard view of the error sink."""
    return (
        error_sink.withColumn(
            "level",
            F.when(F.col("turn_idx").isNotNull(), "row").otherwise("conversation"),
        )
        .cube("error_code", "level")
        .agg(F.count("*").alias("n"))
    )
